"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):
- Exact dedup is a hash-groupBy — one shuffle on the digest, map-side
  partial aggregation, no driver involvement.
- MinHash-LSH: one groupBy(id) builds each doc's shingle-hash array and
  its signature; candidate generation hashes each band to a bucket and
  lists bucket members — reducer fan-in is bounded by bucket size, and
  super-frequent buckets (boilerplate) are dropped by a window count
  before any member list is built. Candidates are verified by exact
  Jaccard over the per-doc arrays. This is the shuffle-friendly banding
  layout from the MMDS LSH construction.
- SimHash: 64 per-bit votes as one aggregate pass over exploded tokens,
  then pigeonhole-banded candidate pairing (equi-joins on signature
  chunks — exact, no recall loss, never a cross join) verified with
  bit_count.
- All randomness is seeded via xxhash64 of (seed-string ‖ value) so reruns
  and the driver's rows-only checks are stable.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fossa_spark.llm.text import tokens


def normalize(col: Column | str) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text digest. Returns one row per
    distinct digest with the kept (minimum) id and the duplicate count."""
    h = F.md5(normalize(text_col)).alias("text_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("kept_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct word k-shingles as strings (space-joined).

    Built from k shifted slices zipped positionally (O(k) array ops per
    row) rather than one slice per window position (O(n) — measured 3.4×
    slower; higher-order functions are interpreted, not codegen'd, so
    per-element work is expensive). Shorter-than-k documents yield one
    shingle of all their tokens: trailing slices come up empty, arrays_zip
    null-pads, concat_ws skips nulls — same result the windowed slice
    formulation gave."""
    toks = tokens(col)
    n = F.size(toks)
    width = F.greatest(n - F.lit(k - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, width) for i in range(k)])
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)]))
    )


def shingle_hash_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    parallelism: int | None = None,
) -> DataFrame:
    """Exploded per-doc DISTINCT word-k-shingle hashes as (id, _sh bigint)
    — the Arrow fast path for every COUNT-based shingle consumer.

    Semantically equal to
    ``explode(word_shingles(text, k)) → xxhash64(shingle_string)`` up to
    the hash family: same tokenization (lowercase, split on single
    space — empties kept, exactly ``F.split(F.lower(c), ' ')``), same
    case mapping — Python ``str.lower()`` matched the JVM's ``lower()``
    on every special-casing hard case probed (İ → i+combining-dot,
    Greek final sigma, titlecase ǅ, ligatures ﬀ/ĳ; pinned in
    test_shingle_hash_rows_matches_hof_path).  NB the DuckDB ORACLE is
    the odd one out (its ``lower()`` skips İ/final-sigma special
    casing), so oracle-checked queries assume effectively-ASCII text —
    a Spark↔DuckDB boundary, not a fast-path↔HOF one — same
    shorter-than-k rule (one shingle of all tokens), same per-doc
    distinct, null text yields no rows.  Every consumer compares hashes
    only against hashes from this same family (intersection counts, df
    caps, LSH band keys), so the family swap is output-invariant for
    count/Jaccard results modulo 64-bit collisions (~2^-28 any-collision
    at the fixture's ~2^18-shingle universe; the brute-force oracles
    would catch one).

    Why not the HOF form: word_shingles builds each shingle as a STRING
    via interpreted higher-order functions (k slices + arrays_zip +
    transform + concat_ws ≈ 25M element ops at sf1 — NOTES r04), then
    hashes and discards the string.  Here one mapInPandas hashes each
    token ONCE per doc (vectorized siphash via pd.util.hash_array, fixed
    key — deterministic across workers/sessions) and combines windows of
    k token hashes with a positional polynomial in uint64 + a splitmix64
    finisher — no string is ever materialized.  The batch loop is
    numpy-vectorized per doc; the one per-batch object-array hash call
    covers all docs' tokens flattened.

    Scale shape: narrow map (no shuffle), Arrow-batched, output is the
    same 8-byte-hash relation downstream plans already consume.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    kk = int(k)

    def gen(batches):
        from itertools import chain

        import numpy as np
        import pandas as pd

        M = np.uint64(0x9E3779B97F4A7C15)
        # P[j] = M**(kk-1-j); the last n entries are M**(n-1..0), which is
        # exactly the short-doc (n <= k) single-shingle weighting
        P = M ** np.arange(kk - 1, -1, -1, dtype=np.uint64)

        def mix(z):  # splitmix64 finisher: breaks the polynomial's linearity
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        for pdf in batches:
            toks = [
                t.lower().split(" ") if isinstance(t, str) else None
                for t in pdf[text_col]
            ]
            lens = [len(t) for t in toks if t is not None]
            flat = np.fromiter(
                chain.from_iterable(t for t in toks if t is not None),
                dtype=object,
                count=sum(lens),
            )
            h = pd.util.hash_array(flat)  # uint64 siphash, fixed key
            ids_out, sh_out, pos, li = [], [], 0, 0
            id_vals = pdf[id_col].to_numpy()
            for i, t in enumerate(toks):
                if t is None:  # null text: explode(null) drops the row
                    continue
                n = lens[li]
                li += 1
                hh = h[pos : pos + n]
                pos += n
                if n <= kk:
                    s = np.array(
                        [(hh * P[kk - n :]).sum(dtype=np.uint64)],
                        dtype=np.uint64,
                    )
                else:
                    win = np.lib.stride_tricks.sliding_window_view(hh, kk)
                    s = (win * P).sum(axis=1, dtype=np.uint64)
                u = np.unique(mix(s))
                ids_out.append(np.full(len(u), id_vals[i]))
                sh_out.append(u.view(np.int64))
            if ids_out:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids_out),
                        "_sh": np.concatenate(sh_out),
                    }
                )

    src = df.select(id_col, text_col)
    # adaptive parallelism guard (same rationale as queries._util.spread):
    # the fixtures are single-row-group parquet, so without this the
    # Arrow shingle computation runs on 1 of N cores; at corpus scale
    # the scan yields ≥ N splits and no shuffle happens.  ``parallelism``
    # overrides the corpus default for BATCH-sized inputs (round 8: the
    # streaming probe inherited the 32-way spread for a few-thousand-row
    # micro-batch, paying 32 Arrow worker round trips per batch — a
    # micro-batch wants the batch's shuffle width, not the corpus's).
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < n:
        src = src.repartition(n)
    return src.mapInPandas(gen, f"`{id_col}` {id_type}, `_sh` bigint")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_jaccard: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact word-k-gram Jaccard over pairs sharing ≥1 kept shingle.

    Hot-shingle cap: shingles whose document frequency exceeds ``max_df``
    are removed from the shingle universe (both intersection counting and
    set sizes — symmetric, so the measure stays a true Jaccard over the
    capped universe). Without the cap, one boilerplate shingle shared by
    10⁶ docs creates a 10¹² pair blow-up at corpus scale; with it, the
    self-join's reducer fan-in is bounded by max_df per shingle — the same
    bound `lsh_candidates` puts on bucket size. Use
    :func:`hot_shingles` to inspect what was dropped.

    Returns (id_a, id_b, n_a, n_b, n_inter, jaccard).

    Shingles arrive as int64 hashes straight from the Arrow fast path
    (round 5, :func:`shingle_hash_rows` — no shingle string is ever
    built; round 4 had already hashed right after the explode so every
    downstream exchange moves 8-byte longs instead of ~40-byte 5-gram
    strings).  The relation is per-doc distinct by construction, so no
    corpus-wide ``.distinct()`` is needed at all.  All outputs are
    COUNTS, so results are identical up to a ~2^-28 any-collision
    probability the brute-force oracle would catch.
    """
    sh = shingle_hash_rows(df, text_col, id_col, k).select(
        F.col(id_col).alias("doc_id"), F.col("_sh").alias("shingle")
    )
    # the capped shingle relation feeds FOUR consumers (sizes + both join
    # sides); persist it once instead of recomputing the explode
    # +df-filter per consumer, checkpoint the (small) verified pair set
    # eagerly so the cache can be released before returning
    kept = sh.join(
        # keep the count from the cap step: it IS the document frequency
        # over the capped universe, so _setsim_core skips its own dfreq
        # aggregate + join (one fewer full shuffle of the relation)
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") <= max_df),
        "shingle",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # round 5: intersections via the prefix-filtered setsim engine
    # instead of the all-intersections self-join — on the capped
    # universe the plain join still materializes Σ df² rows (~150M at
    # sf1 for 2,560 output pairs); _setsim_core only pays for pairs
    # sharing ≥ ℓ of their rarest shingles.  Same exact (na, nb, inter)
    # per surviving pair, and the superset guarantee covers every
    # jaccard ≥ min_jaccard pair, so the output is value-identical.
    inter = _setsim_core(
        kept.select("doc_id", F.col("shingle").alias("tok"), "dfreq"),
        float(min_jaccard),
    )
    pairs = (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select(
            "id_a", "id_b",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("inter").cast("long").alias("n_inter"),
            "jaccard",
        )
        .localCheckpoint(eager=True)
    )
    kept.unpersist()
    return pairs


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_overlap: float = 0.6,
    max_df: int = 100,
    sh_rows: DataFrame | None = None,
) -> DataFrame:
    """Near-subset pairs by the overlap coefficient |A∩B| / min(|A|, |B|).

    Containment catches the asymmetric duplicates Jaccard under-scores: a
    short document quoted wholesale inside a much longer one has tiny
    Jaccard (the union is dominated by the long doc) but containment ≈ 1.
    Reuses the capped-shingle machinery of :func:`ngram_jaccard_pairs`
    (same df ≤ ``max_df`` hot-shingle bound on the self-join fan-in), then
    rescales the intersection by the SMALLER set. The ratio is a single
    int/int double division — bit-identical across engines, no rounding.

    Returns (id_a, id_b, n_a, n_b, n_inter, overlap).

    Shingles arrive int64-hashed from the Arrow fast path, per-doc
    distinct by construction — see :func:`ngram_jaccard_pairs` /
    :func:`shingle_hash_rows` for the measured rationale; outputs are
    counts, so results are hash-collision-exact.
    """
    if sh_rows is None:
        sh_rows = shingle_hash_rows(df, text_col, id_col, k)
    sh = sh_rows.select(
        F.col(id_col).alias("doc_id"), F.col("_sh").alias("shingle")
    )
    # same persist + checkpoint as ngram_jaccard_pairs, but the overlap
    # filter lands BEFORE the eager checkpoint — materializing the
    # unfiltered pair set (via ngram_jaccard_pairs(min_jaccard=0))
    # measured 2× the runtime
    kept = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle"),
        "shingle",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select(F.col("doc_id").alias("id_a"), "shingle")
    b = kept.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "overlap",
            F.col("n_inter").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", "n_a", "n_b", "n_inter", "overlap")
        .localCheckpoint(eager=True)
    )
    kept.unpersist()
    return pairs


def hot_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_df: int = 100,
) -> DataFrame:
    """The shingles `ngram_jaccard_pairs` drops: document frequency > max_df.
    Surface this next to dedup output so a capped run is auditable."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    ).distinct()
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures via explode → N seeded hashes → groupBy min.

    Flat aggregates instead of per-row nested lambda folds: dramatically
    cheaper to compile and identical at scale — one shuffle on the id,
    partial min() before it. Returns (id, minhash array<long>)."""
    ex = df.select(F.col(id_col), F.explode(F.col(shingle_col)).alias("_sh"))
    return _signatures_from_rows(ex, id_col, num_hashes)


def band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, bucket) rows: each signature band hashed to its LSH
    bucket — the join key relation for both self-join dedup
    (lsh_candidates) and index-probe dedup (incremental_dedup).

    The band id is FOLDED INTO the bucket hash, so ``bucket`` alone is the
    complete join key. That single-column key is what lets the persisted
    index be bucketBy(bucket) and probed with zero index-side shuffle —
    Spark only elides the Exchange when the join keys equal the bucketing
    columns (a (band, bucket) composite key disables the bucketed scan)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.lit(f"b{b}"),
                                *[
                                    F.element_at(F.col(sig_col), b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 8,
    rows_per_band: int = 2,
    max_bucket: int = 200,
) -> DataFrame:
    """Banded LSH: hash each band of the signature into a bucket, self-join
    on (band, bucket) to emit candidate pairs (id_a < id_b).

    ``max_bucket`` caps degenerate buckets (boilerplate text) so reducer
    fan-in stays bounded at scale — capped buckets are dropped, trading
    recall on exact-boilerplate groups for a bounded O(bucket²) join.
    """
    brows = band_rows(df, id_col, sig_col, bands, rows_per_band)
    # bucket alone is the full key (band folded into the hash — band_rows).
    # The bucket size is a WINDOW count over the bucket hash partitioning
    # the member-list aggregate needs anyway, so over-cap buckets are
    # dropped row by row BEFORE any member list is built (a boilerplate
    # bucket never becomes an array the size of the corpus; the window
    # buffer spills) and the plan keeps its single Exchange on bucket.
    # One groupBy(bucket) collect_list then lists each kept bucket's
    # members: every unordered (id_a < id_b) pair within a kept bucket,
    # deduped across bands.
    bounded = (
        brows.withColumn("_n", F.count(F.lit(1)).over(W.partitionBy("bucket")))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .groupBy("bucket")
        .agg(F.collect_list("_id").alias("ids"))
    )
    return (
        bounded.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(
                F.filter("ids", lambda y: y > F.col("id_a"))
            ).alias("id_b"),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    sh_rows: DataFrame | None = None,
) -> DataFrame:
    """Full near-dedup pipeline: shingle → MinHash → banded LSH → exact
    Jaccard verification. Returns verified near-duplicate pairs
    (id_a, id_b, jaccard) as a LAZY plan: nothing is cached or computed
    here, and every action on the result runs the whole plan — a caller
    that uses the pairs more than once persists them (connected_components
    does).

    Default signature is 16 hashes in 8 bands × 2 rows: the S-curve knee
    (1/bands)^(1/rows) ≈ 0.35 sits below the 0.5 verify threshold, so
    candidate recall at the threshold is HIGHER than the old 8×4 layout
    (knee ≈ 0.59) while signature codegen and shuffle bytes halve; the
    exact-Jaccard verify step keeps precision unchanged. Extra candidates
    are bounded by max_bucket in lsh_candidates.

    ``sh_rows`` (id, _sh) OVERRIDES text_col/k when given. The plan reads
    the per-doc shingle arrays three times (signatures and both verify
    sides). Over file-backed input Spark reuses that aggregate's Exchange
    and the Arrow shingle pass runs once per action; adaptive execution
    reuses no Exchange above a CACHED scan, so over a cached ``df`` the
    pass runs three times per action — such a caller passes ``sh_rows``
    built from a persisted relation (TrainingDataPipeline does)."""
    # Round 5: shingle_hash_rows (Arrow path — no shingle strings built).
    # Round 6: a caller that already built the (id, _sh) relation
    # (dedup_pairs_auto's mass estimator) passes it via ``sh_rows`` so
    # the corpus-wide Arrow pass runs once, not twice.
    if sh_rows is None:
        sh_rows = shingle_hash_rows(df, text_col, id_col, k)
    # ONE groupBy(id) builds each doc's shingle-hash array (shingle_sets);
    # the signature is folded from it in the same stage (the aggregate's
    # output is already partitioned on the id, so no second Exchange).
    sigs = minhash_signatures(shingle_sets(sh_rows, id_col), id_col, "_shs", num_hashes)
    cands = lsh_candidates(sigs, id_col=id_col, bands=bands,
                           rows_per_band=num_hashes // bands)
    return _jaccard_verify_rows(cands, sh_rows, id_col, threshold)


def build_minhash_index(
    df: DataFrame,
    table_prefix: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    buckets: int = 16,
) -> None:
    """Persist a corpus's near-dup state as BUCKETED parquet tables — the
    operational 100 TB shape: dedup a daily batch against an existing
    corpus without recomputing (or reshuffling) the corpus side.

    Three tables under ``table_prefix``:
      - ``{prefix}_bands``    (band, bucket, doc_id)  bucketBy(bucket) —
        the candidate probe target; a batch's band rows equi-join it with
        NO shuffle on the index side (pay-at-write-time co-location).
      - ``{prefix}_shingles`` (doc_id, _sh)           bucketBy(doc_id) —
        the verify side; the per-candidate intersection join reads it
        pre-partitioned by doc id.
      - ``{prefix}_sizes``    (doc_id, _n)            bucketBy(doc_id).
    """
    from fossa_spark.sources import write_bucketed

    # Arrow shingle path (round 5): signatures, band keys, the persisted
    # index tables and the exact-Jaccard verify all move 8-byte longs;
    # no shingle string is ever materialized (shingle_hash_rows).
    sh_rows = shingle_hash_rows(df, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = _signatures_from_rows(sh_rows, id_col, num_hashes)
    brows = band_rows(sigs, id_col, "minhash", bands, num_hashes // bands).select(
        F.col("band"), F.col("bucket"), F.col("_id").alias(id_col)
    )
    sizes = sh_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    # materialize the shared relation once, then run the three
    # independent bucketed writes as CONCURRENT jobs (guide §2.6) —
    # they touch disjoint tables and only read the persisted sh_rows;
    # the append path (append_to_minhash_index) has used this shape
    # since round 7, the cold build does too (measured 9.7 s sequential
    # at sf0.1; the two smaller writes fully overlap the bands write)
    sh_rows.count()
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    # pool threads inherit the caller's local properties (job group)
    write = inheritable_thread_target(df.sparkSession)(write_bucketed)
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(
                write, brows, f"{table_prefix}_bands", "bucket",
                buckets=buckets, path=f"{path}/bands", sort_by="bucket",
            ),
            pool.submit(
                write, sh_rows, f"{table_prefix}_shingles", id_col,
                buckets=buckets, path=f"{path}/shingles", sort_by=id_col,
            ),
            pool.submit(
                write, sizes, f"{table_prefix}_sizes", id_col,
                buckets=buckets, path=f"{path}/sizes", sort_by=id_col,
            ),
        ]
        for f in futs:
            f.result()  # re-raise any write failure
    # format marker: probe/append assert this exact version before
    # touching the index (advisor r04 — a silently-incompatible hash
    # family or _sh dtype must fail loudly, not return empty matches)
    df.sparkSession.createDataFrame(
        [(INDEX_FORMAT_VERSION,)], "format_version int"
    ).write.mode("overwrite").option("path", f"{path}/meta").saveAsTable(
        f"{table_prefix}_meta"
    )
    sh_rows.unpersist()


# On-disk minhash-index format lineage:
#   1 (r03): _sh string shingles, signatures xxhash64(concat('mh{i}|', s))
#   2 (r04): _sh bigint = xxhash64(shingle string), signatures
#            xxhash64(lit(i), _sh)
#   3 (r05): _sh bigint from shingle_hash_rows (siphash-polynomial Arrow
#            path) — same dtype as v2, DIFFERENT hash family
INDEX_FORMAT_VERSION = 3


def _check_index_format(spark, table_prefix: str) -> None:
    """Fail fast on a stale persisted index (advisor r04, medium).

    Rounds 4 and 5 each changed the index's on-disk format (see the
    version lineage above).  An index written by older code would not
    error against a newer probe — the ``_sh`` equi-join type-coerces
    (v1) or simply hashes in a different family (v2 vs v3), silently
    producing empty/garbage matches, and ``insertInto`` would
    positionally cast across the v1/v2 column-type change.  The dtype
    alone cannot distinguish v2 from v3, so the index carries an
    explicit ``{prefix}_meta.format_version`` marker; assert both it and
    the ``_sh`` dtype before any probe/append and demand a rebuild
    otherwise.

    Memoized per (application, prefix): the check is a catalog lookup +
    a one-row job + a schema fetch (~0.3 s of driver latency), and a
    table that passed once cannot regress within an application — every
    writer in this module writes the CURRENT format (round 8: the
    streaming loop paid the check 6× per run).  Keyed by applicationId,
    not session id, because session CLONES (foreachBatch) share the
    parent's catalog — same tables, same verdict."""
    key = (spark.sparkContext.applicationId, table_prefix)
    if key in _FORMAT_OK:
        return
    ver = None
    if spark.catalog.tableExists(f"{table_prefix}_meta"):
        row = spark.table(f"{table_prefix}_meta").first()
        ver = row["format_version"] if row is not None else None
    dtypes = dict(spark.table(f"{table_prefix}_shingles").dtypes)
    if ver != INDEX_FORMAT_VERSION or dtypes.get("_sh") != "bigint":
        raise ValueError(
            f"minhash index '{table_prefix}' is format version {ver!r} "
            f"(_sh type {dtypes.get('_sh')!r}); this code reads/writes "
            f"version {INDEX_FORMAT_VERSION} (_sh bigint). Rebuild it "
            "with build_minhash_index before probing/appending."
        )
    _FORMAT_OK.add(key)


# (applicationId, prefix) pairs whose format check already passed — see
# _check_index_format.  Bounded: a handful of prefixes per application.
_FORMAT_OK: set[tuple[str, str]] = set()


def build_exact_index(
    df: DataFrame,
    spark,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 16,
) -> None:
    """Persist a corpus's EXACT-dedup state as ONE bucketed table
    ``(text_hash, doc_id)`` bucketBy(text_hash) — the exact-match twin
    of ``build_minhash_index``: a daily batch dedups against the
    existing corpus by equi-joining the digest with NO shuffle on the
    index side.  Unlike the LSH index this needs no verification stage
    (the md5-of-normalized-text equality IS the match), so the whole
    incremental loop is SQL-expressible and oracle-checkable."""
    from fossa_spark.sources import write_bucketed

    rows = df.select(
        F.md5(normalize(text_col)).alias("text_hash"), F.col(id_col)
    )
    write_bucketed(rows, table, "text_hash", buckets=buckets, path=path,
                   sort_by="text_hash")


def append_to_exact_index(
    new_docs: DataFrame,
    spark,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a batch's KEPT docs into a persisted exact-hash index
    (:func:`build_exact_index`) — one ``insertInto`` of their
    (text_hash, id) rows; Spark re-clusters the insert into the table's
    bucket layout, so tomorrow's probe stays shuffle-free on the index
    side.  The write half of the daily exact-dedup loop (the minhash
    twin is :func:`append_to_minhash_index`)."""
    rows = new_docs.select(
        F.md5(normalize(text_col)).alias("text_hash"), F.col(id_col)
    )
    rows.write.insertInto(table)


def compact_exact_index(spark, table: str) -> tuple[int, int]:
    """Small-files maintenance for the exact digest index (r8 verdict:
    every daily :func:`append_to_exact_index` adds one file per bucket;
    nothing reclaimed them).  Delegates to
    :func:`fossa_spark.sources.compact_bucketed_table`, which preserves
    the CLUSTERED BY layout — probe plans and results are invariant
    (pinned by q_index_compact's oracle).  Returns (files_before,
    files_after)."""
    from fossa_spark.sources import compact_bucketed_table

    return compact_bucketed_table(spark, table)


def compact_minhash_index(spark, table_prefix: str) -> dict[str, tuple[int, int]]:
    """Compact all three bucketed tables of a minhash index
    (:func:`build_minhash_index`) back to one file per bucket, preserving
    each table's bucket layout and the ``{prefix}_meta`` format marker
    (compaction rewrites FILES, never the hash family, so the format
    version is untouched and the post-compaction format check still
    passes).  Probe invariance — incremental_dedup's output identical
    before/after, file counts strictly reduced — is pinned in
    tests/test_llm.py.  Returns {table_suffix: (files_before,
    files_after)}."""
    from fossa_spark.sources import compact_bucketed_table

    _check_index_format(spark, table_prefix)
    return {
        sub: compact_bucketed_table(spark, f"{table_prefix}_{sub}")
        for sub in ("bands", "shingles", "sizes")
    }


def incremental_exact_dedup(
    batch: DataFrame,
    spark,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against a persisted exact-hash index
    (:func:`build_exact_index`): hash the batch, LEFT-join the bucketed
    digest table on ``text_hash`` (only the batch side shuffles — into
    the index's bucket layout), attribute each batch doc to the MINIMUM
    matching corpus id.  Returns (id_col, dup_of, keep) with keep =
    no exact corpus copy exists.  Appending novel docs back is one
    ``insertInto`` of their (hash, id) rows — same re-clustering
    guarantee as the minhash index."""
    b = batch.select(
        F.col(id_col), F.md5(normalize(text_col)).alias("text_hash")
    )
    idx = spark.table(table).select(
        "text_hash", F.col(id_col).alias("_corpus_id")
    )
    return (
        b.join(idx.hint("merge"), "text_hash", "left")
        .groupBy(id_col)
        .agg(F.min("_corpus_id").alias("dup_of"))
        .withColumn("keep", F.col("dup_of").isNull())
    )


def append_to_minhash_index(
    new_docs: DataFrame,
    spark,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    sh_rows: DataFrame | None = None,
) -> None:
    """Fold a batch's KEPT docs into an existing minhash index — the write
    half of the daily incremental loop (probe with incremental_dedup, keep
    the novel docs, append them so tomorrow's batch dedups against them).

    ``insertInto`` on the bucketed tables re-clusters the new rows into the
    tables' existing bucket layout (Spark hash-repartitions the insert by
    the bucket spec), so the zero-shuffle probe property survives appends.

    ``sh_rows``: optional pre-computed (id, _sh) relation for new_docs —
    when given it OVERRIDES text_col/k entirely (the caller owns shingle
    semantics; pass a relation built with the same k as the index or the
    Jaccard space silently shifts — the advisor-r6 contract, documented on
    every sh_rows-accepting function). The streaming loop passes the
    probe's relation so each batch pays the Arrow shingle pass once, not
    twice.  MUST cover new_docs exactly: rows for docs not being appended
    would plant ghost index entries."""
    _check_index_format(spark, table_prefix)
    owns = sh_rows is None
    if owns:
        sh_rows = shingle_hash_rows(new_docs, text_col, id_col, k)
    # The three concurrent insertInto jobs below each read sh_rows (or a
    # derivation of it): an unpersisted CALLER-supplied relation — e.g.
    # the streaming path's sh.join(kept_ids) — would be recomputed per
    # job, paying the pass three times and, were the source
    # nondeterministic, writing INCONSISTENT bands/shingles/sizes
    # (advisor r7).  Persist here unless the caller already did.
    we_persist = not sh_rows.is_cached
    if we_persist:
        sh_rows = sh_rows.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_rows(sh_rows, id_col, num_hashes)
    brows = band_rows(sigs, id_col, "minhash", bands, num_hashes // bands).select(
        F.col("band"), F.col("bucket"), F.col("_id").alias(id_col)
    )
    sizes = sh_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    # materialize the shared relation once, then run the three
    # independent table writes as CONCURRENT jobs — they touch disjoint
    # tables and only read the persisted sh_rows, and a typical daily
    # batch is small relative to cluster width, so the scheduler overlaps
    # them instead of paying three sequential job latencies
    sh_rows.count()
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    # pool threads inherit the caller's local properties (job group)
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(inherit(brows.write.insertInto), f"{table_prefix}_bands"),
            pool.submit(
                inherit(sh_rows.select(id_col, "_sh").write.insertInto),
                f"{table_prefix}_shingles",
            ),
            pool.submit(inherit(sizes.write.insertInto), f"{table_prefix}_sizes"),
        ]
        for f in futs:
            f.result()  # re-raise any write failure
    if we_persist:
        sh_rows.unpersist()


def incremental_dedup(
    new_docs: DataFrame,
    spark,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
    sh_rows: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against a persisted minhash index
    (build_minhash_index) without touching corpus text.

    Scale shape: the batch's band rows probe ``{prefix}_bands`` with an
    equi-join on the index's bucketing key — only the (small) batch side
    shuffles; the index is read in place. Verification joins the batch's
    shingles against ``{prefix}_shingles`` restricted to candidates.
    Returns one row per new doc: (doc_id, dup_of, jaccard, keep) where
    dup_of is the best-matching corpus doc (highest jaccard, smallest id
    tiebreak) or NULL and keep = dup_of IS NULL.  Within-batch dups are
    the existing minhash_lsh_dedup's job — run it on the batch first.

    ``sh_rows``: optional pre-computed (id, _sh) relation for new_docs —
    OVERRIDES text_col/k when given (caller owns shingle semantics; must
    be built with the index's k or the Jaccard space silently shifts).
    """
    _check_index_format(spark, table_prefix)
    owns = sh_rows is None
    if owns:
        sh_rows = shingle_hash_rows(new_docs, text_col, id_col, k).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    sh_new = sh_rows
    sigs = _signatures_from_rows(sh_new, id_col, num_hashes)
    brows_new = band_rows(sigs, id_col, "minhash", bands, num_hashes // bands)

    idx_bands = spark.table(f"{table_prefix}_bands")
    # cap degenerate buckets on the INDEX side (same boilerplate guard as
    # lsh_candidates) — as a WINDOW count over the bucketed+sorted table:
    # the table's layout satisfies both the window's partitioning and its
    # sort, so this is ONE zero-shuffle scan (round 8; the former
    # count-then-self-join read the bands table twice per micro-batch)
    bounded = idx_bands.withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("bucket"))
    ).filter(F.col("_n") <= max_bucket)
    cands = (
        brows_new.join(bounded, "bucket")
        .select(F.col("_id").alias("id_new"), F.col(id_col).alias("id_old"))
        .distinct()
        # eager cut-point (round 8): the candidate pair set is
        # batch-bounded (≤ batch × max_bucket, in practice ~|batch|), and
        # everything downstream re-reads it — materialize once so (a) the
        # signature/band subtree runs exactly once per batch and (b) the
        # verify joins below see a SMALL known relation to broadcast
        # instead of planning corpus-scale sort-merge joins.
        .localCheckpoint(eager=True)
    )

    # exact-Jaccard verify: batch shingles vs index shingles.  The index
    # side is pruned FIRST to candidate docs via a broadcast semi-join —
    # a hash-probe SCAN of the shingle/size tables (O(index) read, O(hits)
    # output, no index-side sort or shuffle) instead of the corpus-wide
    # sort-merge join this ran until round 8: per-batch work is bounded
    # by the batch's candidate fan-out, not by re-sorting the corpus.
    cand_old = cands.select(F.col("id_old").alias(id_col)).distinct()
    idx_sh = spark.table(f"{table_prefix}_shingles").join(
        F.broadcast(cand_old), id_col, "left_semi"
    )
    idx_sizes = spark.table(f"{table_prefix}_sizes").join(
        F.broadcast(cand_old), id_col, "left_semi"
    )
    a = sh_new.select(F.col(id_col).alias("id_new"), "_sh")
    b = idx_sh.select(F.col(id_col).alias("id_old"), "_sh")
    inter = (
        cands.join(a, "id_new")
        .join(b, ["id_old", "_sh"])
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sz_new = sh_new.groupBy(id_col).agg(F.count(F.lit(1)).alias("_na")).select(
        F.col(id_col).alias("id_new"), "_na"
    )
    sz_old = idx_sizes.select(F.col(id_col).alias("id_old"), F.col("_n").alias("_nb"))
    verified = (
        inter.join(sz_new, "id_new")
        .join(sz_old, "id_old")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = W.partitionBy("id_new").orderBy(F.col("jaccard").desc(), F.col("id_old").asc())
    best = (
        verified.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("id_new").alias(id_col),
            F.col("id_old").alias("dup_of"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )
    out = (
        new_docs.select(id_col)
        .join(best, id_col, "left")
        .withColumn("keep", F.col("dup_of").isNull())
        .localCheckpoint(eager=True)
    )
    if owns:
        sh_new.unpersist()
    return out


def _signatures_from_rows(sh_rows: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    # seed via an extra hashed column, not a string concat: xxhash64 folds
    # its arguments sequentially, so (lit(i), _sh) is a distinct hash
    # function per i at integer-fold cost — the old concat built a fresh
    # string per (row × hash) before hashing it (measured slower at 16
    # hashes × corpus-size rows)
    hashed = sh_rows.select(
        id_col,
        *[
            F.xxhash64(F.lit(i), F.col("_sh")).alias(f"_h{i}")
            for i in range(num_hashes)
        ],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col, F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("minhash")
    )


def shingle_sets(sh_rows: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, _shs): each doc's shingle array from exploded (id, _sh) rows
    (per-doc distinct already — shingle_hash_rows and word_shingles emit
    each shingle once per doc). Null ids are dropped here, as the verify
    joins would: a join-inferred null filter on only some reads of this
    aggregate would keep Spark from reusing its Exchange across them."""
    return (
        sh_rows.filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.collect_list("_sh").alias("_shs"))
    )


def _jaccard_verify_rows(candidates: DataFrame, sh_rows: DataFrame,
                         id_col: str, threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs from exploded (id, _sh) rows: each
    pair joins the per-doc shingle arrays (shingle_sets) once per side
    and |A∩B| = size(array_intersect) — all counts exact ints, so the
    ratio is the same double an exploded-row join + count computes.

    The per-doc relation is CORPUS-sized — merge hints pin sort-merge,
    the only join strategy whose memory use is bounded (sort spills)
    regardless of side sizes; a broadcast of the corpus's shingle arrays
    OOMs at scale. Both sides read one aggregate hash-partitioned on the
    id, so only the (small) candidate side shuffles."""
    sets = shingle_sets(sh_rows, id_col)
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("_shs").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("_shs").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        candidates.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), "id_b")
        .select(
            "id_a", "id_b", inter.alias("_inter"),
            F.size("_sa").alias("_na"), F.size("_sb").alias("_nb"),
        )
        # a candidate pair sharing no shingle is not a verified pair at
        # any threshold (a join on the shingle value never produced it)
        .filter(F.col("_inter") > 0)
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _union_find_components(spark, edges) -> DataFrame:
    """(doc_id, component) from (src, dst) rows on the driver: union-find
    with path compression and union by min root, so the root IS the
    component's min id. An Arrow-built LocalRelation: it carries exact
    size statistics, so a downstream anti-join broadcasts it with no
    Python stage."""
    import pyarrow as pa

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:  # union by min root → component = min reachable id
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    ids = list(parent)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "component": pa.array([find(x) for x in ids], pa.int64()),
    })
    return spark.createDataFrame(table)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph →
    (doc_id, component) where component = min id reachable.

    Two physical strategies behind one contract:
    - at most ``small_graph_edges`` pair rows: driver union-find (path
      compression, union by min root — so the root IS the component's min
      id) over the pairs, collected once. The verified pair list is tiny
      relative to the corpus, so this is the common case even for very
      large corpora.
    - otherwise: distributed min-label propagation + pointer jumping.

    Each round does (a) one hop of min-label propagation across edges and
    (b) pointer jumping (component ← component's component), so chains
    shrink geometrically: convergence in O(log(diameter)) rounds, and dup
    clusters are near-cliques (1-2 rounds in practice). Raises RuntimeError
    if max_iter is exhausted before convergence — silently-wrong components
    would double-keep documents downstream. This is the
    non-SQL-expressible iterative piece the keep rule needs when
    duplicates chain (A≈B≈C but A̸≈C): min-pair dropping alone can drop B
    and keep both A and C.

    Each iteration TRUNCATES lineage with an eager localCheckpoint —
    labels feeds two places per round, so without truncation the logical
    plan doubles every iteration (exponential planning blow-up long before
    any data problem). On a real cluster use reliable checkpoint() to also
    survive executor loss.
    """
    # Small-graph fast path: the verified near-dup pair list is orders of
    # magnitude smaller than the corpus (it's the post-threshold pair
    # list, not the documents). It is collected ONCE, capped at
    # ``small_graph_edges + 1`` rows — that one action is also the gate:
    # a list within the cap fits the driver, and classic union-find beats
    # 2×rounds distributed jobs of per-round overhead. Past the cap, the
    # distributed min-label loop below runs. The pairs stay persisted
    # across the gate, so the edge checkpoint reads the rows the gate
    # already computed instead of re-running the plan that produced them
    # (for minhash_lsh_dedup's lazy pairs, the whole LSH).
    pairs = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        rows = pairs.limit(small_graph_edges + 1).collect()
        if len(rows) <= small_graph_edges:
            return _union_find_components(pairs.sparkSession, rows)
        edges = (
            pairs.unionByName(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        pairs.unpersist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    def label_sum(lbls: DataFrame) -> int:
        return lbls.agg(F.sum("component")).collect()[0][0] or 0

    # labels only ever DECREASE (min-propagation), so Σcomponent is a
    # strictly-decreasing convergence measure: equal sums ⟺ fixed point.
    # One cheap aggregate per round instead of a join-based diff.
    prev_sum = label_sum(labels)
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        hopped = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: follow component → that node's own component,
        # halving chain depth each round
        parents = hopped.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_comp")
        )
        new_labels = (
            hopped.join(parents, hopped.component == parents.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        new_sum = label_sum(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    return labels.select(F.col("id").alias("doc_id"), "component")


def simhash(col: Column | str, bits: int = 64) -> Column:
    """SimHash signature of the token multiset: per-bit majority vote over
    xxhash64(token). Expressed as a fold over the token array — narrow,
    no explode/shuffle needed."""
    toks = tokens(col)
    h = F.transform(toks, lambda t: F.xxhash64(t))
    def _voter(b: int):
        return lambda acc, x: acc + F.when(
            F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_votes = [
        F.aggregate(h, F.lit(0).cast("long"), _voter(b)) for b in range(bits)
    ]
    sig = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        # shiftleft, not 2**b: bit 63 overflows a Java long literal
        bit = F.shiftleft(F.lit(1).cast("long"), b)
        sig = sig.bitwiseOR(F.when(vote > 0, bit).otherwise(F.lit(0).cast("long")))
    return sig


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    bit_source: str = "xxhash64",
) -> DataFrame:
    """SimHash signatures via explode → per-bit vote sums → assemble.

    Same result as the array-fold :func:`simhash` but with flat aggregates
    (cheap codegen, partial aggregation before one shuffle on the id) —
    the formulation to use on a corpus.

    ``bit_source``: ``"xxhash64"`` (default; JVM-only, fastest) or
    ``"md5"`` — 60 usable bits from the first 15 hex chars of
    md5(token), the engine-portable hash both Spark
    (``conv(substring(md5(t),1,15),16,10)``) and DuckDB
    (``CAST('0x'||substr(md5(t),1,15) AS BIGINT)``) compute
    identically, which is what lets q_dedup_simhash run under the
    value-hash oracle (round 12; the last deterministic rows-only
    query).  md5 requires ``bits <= 60``."""
    if bit_source == "md5":
        if bits > 60:
            raise ValueError("md5 bit source provides 60 usable bits")
        hash_expr = F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("long")
    elif bit_source == "xxhash64":
        hash_expr = F.xxhash64("_t")
    else:
        raise ValueError(f"unknown bit_source: {bit_source!r}")
    ex = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
    h = ex.select(id_col, hash_expr.alias("_h"))
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"_v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select(id_col, sig.alias("sig"))


def simhash_table_wide(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """120-bit SimHash as TWO 60-bit bigint columns (sig1, sig2), md5
    bit source — engine-portable like the 60-bit md5 path (bits come
    from md5 hex chars 1-15 and 16-30), but with the discriminative
    power a small-vocabulary corpus needs: at 60 bits the sf10
    fixture's signatures cluster so tightly that radius-3 banding
    generated a 1.19-BILLION-row bucket join (round 12 measurement);
    at 120 bits the same corpus's near-pair relation is sparse.  One
    token explode, 120 conditional sums, one shuffle on the id."""
    ex = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
    h = ex.select(
        id_col,
        F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("long").alias("_h1"),
        F.conv(F.substring(F.md5("_t"), 16, 15), 16, 10).cast("long").alias("_h2"),
    )
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col(hc), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_{tag}{b}")
            for hc, tag in (("_h1", "a"), ("_h2", "b"))
            for b in range(60)
        ]
    )

    def _assemble(tag: str) -> Column:
        sig = F.lit(0).cast("long")
        for b in range(60):
            sig = sig.bitwiseOR(
                F.when(
                    F.col(f"_{tag}{b}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
            )
        return sig

    return votes.select(
        id_col, _assemble("a").alias("sig1"), _assemble("b").alias("sig2")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    sigs: DataFrame | None = None,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded: split the
    ``bits``-bit signature into (max_hamming+1) chunks — by pigeonhole,
    any pair within the radius agrees EXACTLY on at least one chunk —
    equi-join per chunk, then verify with bit_count. Exact (no recall
    loss) and turns the O(n²) cross join into hash joins on chunk
    values, the same reducer-bounded shape as LSH banding. This is the
    formulation that survives a corpus that doesn't fit one machine.

    ``sigs``: optional pre-computed (id_col, sig) table (e.g.
    :func:`simhash_table`) — OVERRIDES text_col entirely when
    given (the sh_rows convention: the caller owns signature semantics
    and must cover df exactly).  ``bits`` must match the signature
    width used to build ``sigs`` (60 for the md5 bit source).

    Round 12 — band over DISTINCT signatures, not documents.  A
    replica-heavy corpus (the sf10 fixture duplicates texts ~100×)
    puts every copy of a text at the SAME signature, so doc-grain band
    buckets grow with the duplication factor and the bucket self-join
    paid (dup·groups)² work: sf10 warm blew up to 92 s when the md5
    source landed on slightly hotter chunk values.  Signature-grain
    banding is byte-identical output (every doc pair's Hamming distance
    is a function of its sig pair alone): join distinct sigs per chunk,
    Hamming-verify the sig pairs (a corpus-independent relation), then
    expand back to doc pairs — cross-group pairs via two id joins,
    intra-group Hamming-0 pairs via one equi-self-join on sig.  Pair
    EXPANSION is output-sized (irreducible); pair DISCOVERY no longer
    multiplies by the duplication factor: sf10 warm 92.5 → ~8 s."""
    chunks = max_hamming + 1
    width = bits // chunks
    if sigs is None:
        # forward bits so the banding widths below match the signature
        # actually built (ADVICE r12: bits=60 silently got a 64-bit
        # table — output stayed exact, semantics didn't)
        sigs = simhash_table(df, text_col, id_col, bits=bits)
    sigs = sigs.select(F.col(id_col).alias("_id"), "sig")
    usig = sigs.select("sig").distinct()
    banded = usig.select(
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        # chunk c = bits [c*width, (c+1)*width); last chunk
                        # absorbs the bits % chunks remainder
                        F.shiftrightunsigned(F.col("sig"), c * width)
                        .bitwiseAND(
                            F.lit(-1 if c == chunks - 1 else (1 << width) - 1).cast("long")
                        )
                        .alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("sig", "cc.chunk", "cc.val")
    a = banded.select("chunk", "val", F.col("sig").alias("sig_a"))
    b = banded.select("chunk", "val", F.col("sig").alias("sig_b"))
    near_sigs = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        near_sigs.join(
            sigs.select(F.col("sig").alias("sig_a"), F.col("_id").alias("_ia")),
            "sig_a",
        )
        .join(
            sigs.select(F.col("sig").alias("sig_b"), F.col("_id").alias("_ib")),
            "sig_b",
        )
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        sigs.select("sig", F.col("_id").alias("id_a"))
        .join(sigs.select("sig", F.col("_id").alias("id_b")), "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(intra)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup CANONICAL ATTRIBUTION over 120-bit wide
    signatures — (doc_id, dup_of, hamming) for every doc that has a
    smaller-id document within the Hamming radius, where dup_of is the
    smallest such id reachable in one signature hop and hamming is the
    distance between the two signatures.  The q_dedup_exact
    ``kept_id`` convention lifted to near-duplicates.

    Two round-12 design decisions, both measured at sf10:

    * ATTRIBUTION, not pairs: on a replica-heavy corpus the pair
      relation is quadratic in the duplication factor (115M doc pairs
      at radius 3/60 bits on the sf10 fixture — output-bound at any
      join strategy; 92-300 s, pure expansion).  Attribution is ≤ one
      row per doc.  :func:`simhash_pairs` remains the pair-grain API.
    * 120-bit signatures (:func:`simhash_table_wide`): at 60 bits this
      corpus's signatures cluster so hard that 15-bit band buckets
      reached 7k signatures and the bucket join 1.19B rows; at 120
      bits the default radius 3 bands into four 30-bit chunks (radius
      5's 20-bit chunks still drew a 989M-row bucket join on the same
      corpus — 30-bit agreement is what makes buckets hold genuinely
      similar signatures only: measured 110M raw / 1.65M near pairs).

    Shape: band DISTINCT signatures (pigeonhole-exact candidate
    generation, |sig| grain), verify Hamming on sig pairs (self-pair
    included — a doc's own group counts), map each neighbor sig to its
    group's min doc id, take the per-sig minimum, then ONE doc-grain
    equi-join on the signature. The corpus pays the signature pass +
    one shuffle; everything between is signature-grain.

    Two-step canon selection (MIN id, then the h of that id's sig) is
    mirrored verbatim by the SQL oracle — group-min ids are unique per
    sig, so there is no tie to break.

    ``sigs``: optional pre-computed (id_col, sig1, sig2) table (e.g.
    :func:`simhash_table_wide`).  ``max_hamming + 1`` must divide 120
    with a chunk width that does not straddle the two columns (width
    dividing 60 — radii 1, 3, 5, 7, 9, 11 qualify)."""
    chunks = max_hamming + 1
    if 120 % chunks or 60 % (120 // chunks):
        raise ValueError(
            f"radius {max_hamming}: need (radius+1) | 120 with a chunk "
            "width dividing 60 (no chunk may straddle the two 60-bit "
            "signature columns) — radii 1, 3, 5, 7, 9, 11 qualify"
        )
    width = 120 // chunks
    if sigs is None:
        sigs = simhash_table_wide(df, text_col, id_col)
    sigs = sigs.select(F.col(id_col).alias("_id"), "sig1", "sig2")
    g = sigs.groupBy("sig1", "sig2").agg(F.min("_id").alias("g"))
    usig = g.select("sig1", "sig2")
    per_col = 60 // width

    def _chunk(c: int) -> Column:
        col = F.col("sig1") if c < per_col else F.col("sig2")
        return F.shiftrightunsigned(col, (c % per_col) * width).bitwiseAND(
            F.lit((1 << width) - 1).cast("long")
        )

    banded = usig.select(
        "sig1",
        "sig2",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), _chunk(c).alias("val"))
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("sig1", "sig2", "cc.chunk", "cc.val")
    a = banded.select(
        "chunk", "val",
        F.col("sig1").alias("a1"), F.col("sig2").alias("a2"),
    )
    b = banded.select(
        "chunk", "val",
        F.col("sig1").alias("b1"), F.col("sig2").alias("b2"),
    )
    ham = F.bit_count(F.col("a1").bitwiseXOR(F.col("b1"))) + F.bit_count(
        F.col("a2").bitwiseXOR(F.col("b2"))
    )
    cand = (
        a.join(b, ["chunk", "val"])  # self-pairs included (h = 0)
        .select("a1", "a2", "b1", "b2")
        .distinct()
        .withColumn("h", ham)
        .filter(F.col("h") <= max_hamming)
    )
    nb = cand.join(
        g.select(
            F.col("sig1").alias("b1"),
            F.col("sig2").alias("b2"),
            F.col("g").alias("g_b"),
        ),
        ["b1", "b2"],
    )
    canon = nb.groupBy("a1", "a2").agg(F.min("g_b").alias("canon"))
    ch = canon.join(nb, ["a1", "a2"]).filter(
        F.col("g_b") == F.col("canon")
    ).select(
        F.col("a1").alias("sig1"),
        F.col("a2").alias("sig2"),
        "canon",
        "h",
    )
    return (
        sigs.join(ch, ["sig1", "sig2"])
        .filter(F.col("canon") < F.col("_id"))
        .select(
            F.col("_id").alias(id_col),
            F.col("canon").alias("dup_of"),
            F.col("h").alias("hamming"),
        )
    )


def remove_repeated_ngrams(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document exact-substring dedup: delete every token covered by
    a NON-FIRST occurrence of a word ``k``-gram inside the same document —
    the single-document form of the suffix-array exact-substring dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"); the cross-document form is the minhash/LSH family above.

    Shape (round 5 — Arrow): everything is per-document, so ONE
    mapInPandas pass does the whole operator — tokenize, walk gram
    starts once with a first-occurrence dict, mark covered positions,
    md5 the surviving tokens.  The previous declarative form (posexplode
    grams → min-start groupBy → anti-join back onto the token grain) was
    plan-pretty but paid three corpus-grain shuffles plus interpreted
    HOF gram construction for what is a linear per-doc scan; measured
    8.0 → ~1.5 s warm at sf1, byte-identical outputs (same tokenize =
    lower().split(' '), same non-first-start coverage rule, same md5 of
    the space-joined survivors — the oracle replicates all three in
    SQL).  Embarrassingly parallel; no shuffle at all now.

    Case-mapping boundary (ADVICE r5): Python ``str.lower()`` equals the
    JVM's ``lower()`` on Unicode special cases (probed İ/final-sigma/ǅ;
    pinned in test_shingle_hash_rows_matches_hof_path), but the DuckDB
    ORACLE's ``lower()`` does not special-case İ or final sigma — the
    byte-identical-md5 oracle parity therefore assumes effectively-ASCII
    text (which the fixtures are).

    Returns (id_col, n_before, n_removed, cleaned_md5) where cleaned_md5
    fingerprints the space-joined surviving tokens in position order.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    kk = int(k)

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, nb, nr, md = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    continue  # null text: the explode form emitted no row
                toks = text.lower().split(" ")
                n = len(toks)
                covered: set[int] = set()
                if n >= kk:
                    first: dict[str, int] = {}
                    for i in range(n - kk + 1):
                        g = " ".join(toks[i : i + kk])
                        if g in first:
                            covered.update(range(i, i + kk))
                        else:
                            first[g] = i
                kept = (
                    [t for i, t in enumerate(toks) if i not in covered]
                    if covered
                    else toks
                )
                ids.append(doc_id)
                nb.append(n)
                nr.append(n - len(kept))
                md.append(hashlib.md5(" ".join(kept).encode("utf-8")).hexdigest())
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_before": nb,
                        "n_removed": nr,
                        "cleaned_md5": md,
                    }
                )

    src = df.select(id_col, text_col)
    # adaptive parallelism guard (see shingle_hash_rows)
    npar = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < npar:
        src = src.repartition(npar)
    return src.mapInPandas(
        gen,
        f"`{id_col}` {id_type}, n_before long, n_removed long, "
        "cleaned_md5 string",
    )


def remove_shared_chunks(
    df: DataFrame,
    k: int = 8,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate removal: drop every non-overlapping
    ``k``-word chunk that appears in more than ``max_df`` documents — the
    corpus-level companion of :func:`remove_repeated_ngrams` (within-doc),
    and the declarative form of the shared-substring scrubbing step of
    web-corpus pipelines (C4 / RefinedWeb remove lines repeated across
    pages; the fixture corpus has no newlines, so the "line" unit is a
    fixed k-word chunk).

    Shape: one split per doc → posexplode to the chunk grain; chunk
    document-frequencies are ONE groupBy on the chunk string whose hot
    tail (df > max_df) is tiny and broadcast back as an anti-join; text
    reassembly is a per-doc sort_array over (pos, chunk) — order exact,
    no window. Nothing is corpus² — the df aggregation is the only
    corpus-wide shuffle, same bound as exact_dedup.

    Returns (id_col, n_chunks, n_kept, new_text) — all exact values.
    """
    arr = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), arr.alias("a"), F.size(arr).alias("n"))
    chunks = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.col("n") - 1) / k).cast("int")),
                lambda i: F.concat_ws(" ", F.slice("a", i * k + 1, k)),
            )
        ).alias("pos", "chunk"),
    )
    hot = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("chunk")
    )
    kept = chunks.join(F.broadcast(hot), "chunk", "left_anti")
    totals = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("new_text"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


# Universal-hash constants for the ORACLE-CHECKABLE minhash variant:
# h_i(x) = (a_i * h(x) + b_i) mod P over a single md5-derived 32-bit base
# hash. P is the smallest prime > 2^32; a_i < 1e9 keeps a*h < 2^63 (exact
# int64 in both engines). Identical literals are formatted into the DuckDB
# oracle, so signatures match bit-for-bit — unlike xxhash64 (JVM-only),
# this classic a·x+b construction is expressible in ANSI SQL.
UNIVERSAL_P = 4294967311
UNIVERSAL_AB = [
    (999999937, 15485863), (999999893, 15485867), (999999883, 15485917),
    (999999797, 15485927), (999999761, 15485933), (999999757, 15485941),
    (999999751, 15485959), (999999739, 15485989), (999999733, 15485993),
    (999999677, 15486013), (999999667, 15486041), (999999613, 15486047),
    (999999607, 15486059), (999999541, 15486071), (999999527, 15486101),
    (999999503, 15486139),
]


def minhash_signatures_universal(
    sh_rows: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """MinHash signatures whose every bit is reproducible in ANSI SQL:
    one md5-derived 32-bit base hash per shingle, then ``num_hashes``
    (a·h + b) mod P universal permutations — same flat-aggregate shape as
    the xxhash64 fast path (_signatures_from_rows): explode → N columns →
    groupBy min, partial aggregation before the one shuffle. Use this
    variant when the signature table itself must be auditable by another
    engine; the xxhash64 path stays the throughput default."""
    h = F.conv(F.substring(F.md5(F.col("_sh")), 1, 8), 16, 10).cast("long")
    hashed = sh_rows.select(
        id_col,
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(UNIVERSAL_P)).alias(f"_h{i}")
            for i, (a, b) in enumerate(UNIVERSAL_AB[:num_hashes])
        ],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col,
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("minhash"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    threshold: float = 0.35,
    seed: int = 42,
    target_block: int = 125,
    train_cap: int = 8192,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with KMeans, compare cosine
    similarity ONLY within clusters, connect the >= threshold pairs into
    components, and keep ONE representative per component — the member
    FARTHEST from its cluster centroid (the paper's keep rule: peripheral
    examples carry more signal than the redundant cluster core).

    Scale shape = the IVF shape: centroids are tiny and broadcast;
    within-cluster pairs come from one applyInPandas per cluster
    (blocked_cosine_pairs — each vector crosses the shuffle once); the
    component step runs on the post-threshold EDGE list, orders of
    magnitude smaller than the corpus.

    n_clusters defaults to ADAPTIVE (round 4): k = clamp(n/target_block,
    16, 4096), so per-block pair work stays ~target_block²/2 and total
    within-block work is LINEAR in the corpus.  A fixed k makes blocks
    grow as n/k and the pair step O(n²/k) — the sf1 smoke measured the
    old fixed k=16 at 8× cost for 10× data, the signature of a
    superlinear constant.  This is also the paper's regime (SemDeDup
    scales cluster count with corpus size).  KMeans fits on a seeded
    sample capped at ``train_cap`` rows (the same bound sim_ivf's
    quantizer uses) so fit cost is flat at any scale.

    Returns (component, size, kept_id, cluster) per duplicate group,
    singletons excluded (they are trivially kept).
    """
    import numpy as np
    import pandas as pd

    from fossa_spark.llm.similarity import (
        _nearest_centroids_udf,
        blocked_cosine_pairs,
        fit_centroids_capped,
    )

    n = embeddings.count()  # one count job; sizes both knobs below
    if n_clusters is None:
        n_clusters = max(16, min(4096, n // target_block))

    # round 5: capped-sample driver-side Lloyd (fit_centroids_capped)
    # replaces the MLlib k-means|| fit — same adaptive-k regime, same
    # train cap, ~5 s less fixed cost at sf1 (BENCHLOG); cluster ids
    # change (different init), which rows-only output tolerates and the
    # planted-group recall test checks semantically
    centroids = fit_centroids_capped(
        embeddings, vec_col, n_clusters, n=n, train_cap=train_cap, seed=seed
    )

    assigned = embeddings.withColumn(
        "cluster", _nearest_centroids_udf(centroids, 1)(F.col(vec_col))[0]
    ).persist()

    pairs = blocked_cosine_pairs(
        assigned, block_col="cluster", id_col=id_col, vec_col=vec_col,
        threshold=threshold,
    )
    comp = connected_components(pairs)  # (doc_id, component)

    # distance to own centroid, for the keep rule — same pandas-UDF math
    # as the assignment step, one narrow pass
    def _dist_fn(vecs, clusters):
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        c = centroids[clusters.to_numpy()]
        return pd.Series(np.sqrt(((m - c) ** 2).sum(axis=1)))

    # legacy (no-type-hint) form: pd is function-local here, so hint
    # strings would not resolve under `from __future__ import annotations`
    _dist = F.pandas_udf(_dist_fn, "double")

    members = comp.join(
        assigned.select(
            F.col(id_col).alias("doc_id"),
            "cluster",
            F.round(_dist(F.col(vec_col), F.col("cluster")), 6).alias("d"),
        ),
        "doc_id",
    )
    w = W.partitionBy("component").orderBy(
        F.col("d").desc(), F.col("doc_id").asc()
    )
    out = (
        members.withColumn("rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("kept_id"),
            F.max(F.when(F.col("rk") == 1, F.col("cluster"))).cast("int")
            .alias("cluster"),
        )
    )
    assigned.unpersist()
    return out


def setsim_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    set_col: Column | None = None,
    tok_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (the AllPairs /
    PPJoin family, Bayardo et al. WWW'07 / Xiao et al. WWW'08): token-SET
    Jaccard >= threshold pairs WITHOUT MinHash approximation and WITHOUT
    the all-pairs cross product.

    The filter: order every document's tokens by global rarity (document
    frequency asc, token asc — a total order computed per-doc with
    sort_array over (df, token) structs, no global rank window), keep only
    the first ``n - ceil(t*n) + 1`` tokens as the PREFIX; two sets with
    Jaccard >= t MUST share a prefix token, so the candidate join is an
    equi-join on prefix tokens only. Prefix tokens are each document's
    RAREST tokens, so candidate fan-in per token is bounded — the hot
    tokens ("the") that would explode a naive token join never enter a
    prefix. A length filter (t*na <= nb <= na/t) prunes further. Exact
    verification counts the real intersection on candidates only.

    No recall loss (unlike MinHash/SimHash): candidates are a superset of
    all qualifying pairs, verification is exact — which is why this query
    can be hash-checked against a brute-force SQL oracle.

    Two measured constant-factor decisions (round 4, sf0.1 = 5k docs /
    260k distinct shingles / 310k candidate pairs):

    - Elements are xxhash64'd to int64 IMMEDIATELY after the per-doc
      explode: every downstream exchange and join (dfreq, rarity sort,
      prefix self-join, both verify sides) moves 8-byte longs instead of
      ~25-byte shingle strings, and the verify join's hash tables build
      on longs.  Exactness caveat: a 64-bit collision would merge two
      distinct elements; with ~2^18 distinct elements the any-collision
      probability is ~2^-28 — the brute-force oracle would catch it, and
      it has never fired.  12.0 s → ~5 s warm isolated at sf0.1.
    - The PPJoin positional filter (Xiao et al. WWW'08 §3.2) was
      implemented and MEASURED OUT: on this corpus it pruned 0.4% of
      candidate pairs (309,803 → 308,474) — prefix-sharing pairs here
      are mostly genuinely similar, so the per-match position bookkeeping
      (posexplode + min-aggregate) cost more than the verify work it
      saved.  Candidates dedup with a plain groupBy instead; revisit the
      positional filter only on corpora with skewed prefix collisions.

    The per-doc element sets are deduped NARROWLY (array_distinct inside
    the row) before exploding, so the exploded (doc, element) relation
    needs no corpus-wide ``.distinct()`` exchange at all.

    ``set_col`` overrides the set definition (default: distinct whitespace
    tokens); pass e.g. ``word_shingles(text_col, 3)`` for shingle-set
    Jaccard — on corpora whose unigram vocabularies overlap heavily,
    shingles are what make the measure (and the prefix filter)
    discriminative.

    SCALE BOUNDARY (measured, round 6): prefix-join candidate mass is
    Σ_tok C(df_prefix(tok), 2) — when a corpus is duplication-SATURATED
    (every token's df grows linearly with corpus size, e.g. the sf10
    replication fixture where each base doc has ~100 near-variants),
    that sum grows QUADRATICALLY: 40.9M rows at sf1 → 3.32B at sf10
    (81× for 10× docs; warm 7.4 s → 752 s).  No exact prefix-family
    algorithm avoids this — candidates sharing rare tokens must be
    enumerated — so at that density the engine's scale paths are
    :func:`ngram_jaccard_pairs` (df-capped universe: the cap bounds
    per-token mass at C(max_df, 2), provably linear — 42.5 s at sf10)
    or :func:`minhash_lsh_dedup` (bucket-capped, 17.1 s at sf10).
    Run :func:`setsim_candidate_mass` (one cheap aggregate) before
    launching the exact join on an unfamiliar corpus."""
    if tok_rows is not None:
        # prebuilt per-doc DISTINCT (doc_id, tok int64) relation — e.g.
        # shingle_hash_rows' Arrow output (round 5), skipping the
        # interpreted-HOF set_col path entirely
        tok = tok_rows.select(F.col(id_col).alias("doc_id"), "tok")
    else:
        elems = set_col if set_col is not None else tokens(text_col)
        # per-doc dedup stays NARROW (no exchange); the int64 hash
        # replaces the string element everywhere downstream (see
        # docstring).  tok feeds several consumers (dfreq, prefix
        # ranking, both verify sides), but identical subtrees dedupe via
        # ReusedExchange, so an explicit persist costs MORE than it
        # saves (measured: 5.7 s → 11.4 s warm at sf0.1 with persist +
        # eager checkpoint). Leave it lazy.
        src = df
        # adaptive parallelism guard (see shingle_hash_rows): the HOF
        # set_col evaluation is per-doc CPU-bound and must see every core
        n = df.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < n:
            src = src.repartition(n)
        tok = src.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(elems)).alias("tok_s"),
        ).select("doc_id", F.xxhash64("tok_s").alias("tok"))
    t = float(threshold)
    inter = _setsim_core(tok, t)
    uni = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.withColumn("uni", uni.cast("long"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double") / F.col("uni"), 6),
        )
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b",
                F.col("inter").cast("long").alias("inter"), "uni", "jaccard")
    )


def setsim_candidate_mass(
    tok_rows: DataFrame,
    t: float,
    id_col: str = "doc_id",
    l: int = 4,
) -> dict:
    """Pre-flight cost estimate for :func:`setsim_join` /
    :func:`_setsim_core` on a per-doc DISTINCT (doc_id, tok) relation:
    the prefix join will emit exactly Σ_tok C(df_prefix(tok), 2) rows,
    computable with one cheap aggregate (no join).  Returns
    ``{"candidate_rows", "max_prefix_df", "n_prefix_tokens",
    "n_docs"}``.  Interpretation: candidate_rows growing faster than
    linearly between two corpus scales means the corpus is
    duplication-saturated and the exact join should be replaced by the
    df-capped or LSH path (see setsim_join's SCALE BOUNDARY note —
    sf1 measured 40.9M rows ≈ 7 s warm; sf10 3.32B ≈ 750 s)."""
    tok = tok_rows.select(F.col(id_col).alias("doc_id"), "tok")
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    ranked = (
        tok.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dfreq", "tok"))).alias("st"))
        .select(F.col("st.tok").alias("toks"), F.size("st").alias("n"))
    )
    plen = F.col("n") - F.ceil(F.col("n") * t - 1e-9).cast("int") + l
    prefix = ranked.select(F.explode(F.slice("toks", 1, plen)).alias("tok"))
    row = (
        prefix.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("pd"))
        .agg(
            F.sum(F.col("pd") * (F.col("pd") - 1) / 2).alias("mass"),
            F.max("pd").alias("maxpd"),
            F.count(F.lit(1)).alias("ntok"),
        )
        .first()
    )
    return {
        "candidate_rows": int(row["mass"] or 0),
        "max_prefix_df": int(row["maxpd"] or 0),
        "n_prefix_tokens": int(row["ntok"] or 0),
        "n_docs": tok.select("doc_id").distinct().count(),
    }


def dedup_pairs_auto(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    mass_per_doc_cap: int = 2000,
    sh_rows: DataFrame | None = None,
) -> DataFrame:
    """ADAPTIVE near-dup pair detection: measure, then pick the algorithm
    — the AQE idea applied to the dedup family's documented scale
    boundary (setsim_join's SCALE BOUNDARY note).

    The decision is the one-aggregate pre-flight
    :func:`setsim_candidate_mass`: the exact prefix join will emit
    exactly Σ_tok C(df_prefix(tok), 2) candidate rows.  While that mass
    stays ≤ ``mass_per_doc_cap`` per document (the corpus is in the
    LINEAR regime — measured: sf1's 818 rows/doc ran 7.4 s), run the
    EXACT prefix-filtered join (zero false negatives, oracle-checkable).
    Past the cap (duplication-SATURATED corpora — sf10's 6640 rows/doc
    would have cost ~750 s), fall back to MinHash/LSH with exact-Jaccard
    verification: bucket-capped candidate generation, perfect precision
    (every emitted pair is exactly verified ≥ threshold), recall bounded
    by the S-curve instead of 1.

    The estimator costs one groupBy over the shingle relation — ~2 % of
    the exact join it gates — and the choice is DETERMINISTIC for a
    given corpus, so at verification scale the oracle covers the exact
    branch.  Returns (id_a, id_b, jaccard, strategy) where strategy ∈
    {'exact_prefix', 'lsh_verified'} records which engine produced the
    pair — the operator's plan choice is part of its output, not a
    silent log line.

    ``sh_rows`` optionally supplies the (id, _sh) shingle relation (e.g.
    :func:`shingle_hash_rows`, built once by the caller) — the
    estimator, the exact join, and the LSH fallback all consume the same
    relation, so a persisted copy removes the corpus-wide Arrow pass from
    every branch of the decision.  When given it OVERRIDES ``k``
    entirely (advisor r6): the caller owns shingle semantics, and a
    relation built with a different k silently changes the Jaccard
    space — pass the k the relation was built with, or omit sh_rows."""
    base = (
        sh_rows
        if sh_rows is not None
        else shingle_hash_rows(df, text_col, id_col, k=k)
    )
    rows = base.select(
        F.col(id_col).alias("doc_id"), F.col("_sh").alias("tok")
    )
    stats = setsim_candidate_mass(rows, threshold)
    if stats["candidate_rows"] <= mass_per_doc_cap * max(stats["n_docs"], 1):
        out = setsim_join(df, id_col=id_col, threshold=threshold, tok_rows=rows)
        strategy = "exact_prefix"
    else:
        out = minhash_lsh_dedup(
            df, text_col=text_col, id_col=id_col, k=k, threshold=threshold,
            sh_rows=base,
        )
        strategy = "lsh_verified"
    return out.select(
        "id_a",
        "id_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.lit(strategy).alias("strategy"),
    )


def _setsim_core(tok: DataFrame, t: float, l: int = 4) -> DataFrame:
    """Prefix-filtered exact set-intersection pairs from a per-doc
    DISTINCT (doc_id, tok int64) relation: every pair whose token-set
    Jaccard is ≥ ``t`` appears with its EXACT intersection count
    (callers apply their own measure/filter on (na, nb, inter) — a
    SUPERSET of qualifying pairs may appear, never a subset).

    This is setsim_join's engine, split out (round 5) so
    ngram_jaccard_pairs can reuse it: the plain all-intersections join
    materializes Σ df² rows (~150M at sf1 on the df-capped shingle
    universe) where the prefix + ℓ-count path only pays for pairs
    sharing ≥ ℓ of their rarest tokens.  See setsim_join's docstring
    for the filter lineage and the ℓ-prefix soundness argument.

    If ``tok`` already carries a ``dfreq`` column (ngram_jaccard_pairs'
    df-cap step counts every shingle anyway), the per-token frequency
    aggregate + join back are skipped — one fewer full shuffle of the
    element relation."""
    if "dfreq" not in tok.columns:
        dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
        tok = tok.join(dfreq, "tok")
    ranked = (
        tok
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("dfreq", "tok"))
            ).alias("sorted_toks"),
        )
        .select(
            "doc_id",
            F.col("sorted_toks.tok").alias("toks"),
            F.size("sorted_toks").alias("n"),
        )
    )
    # ℓ-PREFIX COUNT FILTER (AdaptJoin, Wang et al. SIGMOD'12 — the
    # ℓ-prefix scheme; round 5): extend each prefix by ℓ−1 tokens beyond
    # the classic n − ⌈t·n⌉ + 1, then require candidates to share ≥ ℓ
    # prefix tokens.  Soundness (global token order = (dfreq, tok), the
    # same total order every doc sorts by): for a matching pair the ℓ
    # smallest SHARED tokens each have ≥ O−i shared tokens after them,
    # so their positions in A are ≤ n_a − O + ℓ ≤ n_a − ⌈t·n_a⌉ + ℓ =
    # |extended prefix| (O ≥ ⌈t·n_a⌉ and, under the symmetric length
    # filter, O ≥ ⌈t·n_b⌉) — all ℓ lie in BOTH extended prefixes.  For
    # degenerate tiny docs where the pair's required overlap m =
    # ⌈t·max(n)⌉ < ℓ, only m shared tokens are guaranteed — hence the
    # least().  Effect: the r04 .distinct() becomes a same-shuffle
    # groupBy COUNT, and the verify stage only sees pairs sharing ≥ ℓ
    # rare tokens.  On the sf1 corpus the prefix join emits 36.7M rows
    # across 22.9M distinct pairs (mostly 1–2 shared tokens) for 3,019
    # true pairs — the count filter kills the verify mass the positional
    # filter could not touch (rare shared tokens sit at FRONT positions,
    # so PPJoin's bound degenerates to ~n; that filter was measured out
    # in r04).  Prefix rows grow by only ℓ−1 per doc.
    # FP-ROBUST CEILINGS (ADVICE r5): when t·n is mathematically an
    # integer but the double product rounds UP (100·0.07 →
    # 7.000000000000001 → ceil 8), the prefix shortens AND the count
    # threshold rises at once, dropping an exact-boundary qualifying
    # pair — a recall bug.  Every bound below therefore subtracts a tiny
    # epsilon before ceil / compare.  Direction matters: an epsilon too
    # LARGE only lengthens the prefix / lowers the threshold / relaxes
    # the length filter — a superset of candidates that the exact
    # array_intersect verify prunes anyway — so the filter can only err
    # toward extra work, never toward false negatives.  1e-9 absolute
    # dominates the double rounding error for any n < 10^6 tokens per
    # doc (err ≤ n·t·2^-52 ≈ 2e-10); docs beyond that are no longer
    # "sets of shingles" and the callers cap the universe well below it.
    _EPS = 1e-9
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * t - _EPS).cast("int") + l
    )
    prefix = ranked.select(
        "doc_id", "n",
        F.explode(F.slice("toks", 1, prefix_len)).alias("tok"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(
            (F.col("b.n").cast("double") >= t * F.col("a.n") - _EPS)
            & (F.col("a.n").cast("double") >= t * F.col("b.n") - _EPS)
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("_cpf"))
        .filter(
            F.col("_cpf")
            >= F.least(
                F.lit(l),
                F.ceil(t * F.greatest("na", "nb") - _EPS).cast("long"),
            )
        )
        .drop("_cpf")
    )
    # verify: join each candidate pair with the two per-doc element
    # ARRAYS and count the intersection narrowly (array_intersect on
    # int64s), instead of exploding candidates × elements into a
    # |cand|·|set| row relation that crosses TWO more shuffles plus a
    # grouped count (measured 7.9 → ~4 s warm at sf0.1).  The doc-array
    # relation is |docs| rows of ~|set| longs — when it fits the
    # broadcast threshold (AQE decides) the whole verify is
    # SHUFFLE-FREE; when it doesn't, the shuffled array join moves the
    # same bytes the explode formulation would have, so this shape never
    # loses at scale.
    side = ranked.select("doc_id", "toks")
    inter = (
        cand.join(
            side.select(F.col("doc_id").alias("id_a"),
                        F.col("toks").alias("_toks_a")),
            "id_a",
        )
        .join(
            side.select(F.col("doc_id").alias("id_b"),
                        F.col("toks").alias("_toks_b")),
            "id_b",
        )
        .select(
            "id_a", "id_b", "na", "nb",
            F.size(F.array_intersect("_toks_a", "_toks_b")).alias("inter"),
        )
    )
    return inter


def span_anchors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(rep_id, pos, h) anchor rows for :func:`shared_span_pairs` —
    exact-dup collapse to the min-id representative, then every k-token
    window (1-based pos) under the engine-portable 60-bit md5 prefix
    hash.  One narrow whole-stage-codegen pass; no shuffle beyond the
    representative groupBy."""
    reps = df.groupBy(F.col(text_col).alias("_text")).agg(
        F.min(id_col).alias("rep_id")
    )
    toks = reps.select(
        "rep_id", F.split(F.lower(F.col("_text")), " ").alias("_t")
    ).filter(F.size("_t") >= k)
    return toks.select(
        "rep_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_t) - {k - 1}),"
                f" i -> array_join(slice(_t, i, {k}), ' '))"
            )
        ).alias("pos0", "_gram"),
    ).select(
        "rep_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.conv(F.substring(F.md5("_gram"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )


def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int = 16,
    max_df: int = 100,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """CROSS-document exact-substring dedup (round 13 — the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    capability, re-expressed relationally): every maximal token span of
    length ≥ ``min_tokens`` shared verbatim between two DIFFERENT
    documents, as (id_a, id_b, start_a, start_b, span_tokens) with
    1-based token positions.  This is the contamination/memorization
    vector the near-dup family (document-grain Jaccard/MinHash/SimHash)
    cannot see: a 200-token quote inside two otherwise-unrelated
    documents.

    Algorithm — fixed-k-gram anchors instead of a suffix array (the
    suffix array is a single-machine construction; anchors are three
    hash shuffles):

    1. EXACT-DUP COLLAPSE: group by text, keep min(id) as the
       representative.  Replica-heavy corpora put every copy of a text
       at the same anchors, so span discovery at document grain would
       pay (replicas)² per shared span — the round-12 simhash lesson
       (92.5 s → 8 s) applied from the start.  At 100 TB the same step
       is the exact-dedup pass the pipeline runs anyway.
    2. ANCHORS: every k-token window (1-based pos), hashed to the
       engine-portable 60-bit md5 prefix
       (``conv(substring(md5(gram),1,15),16,10)`` — the q_dedup_simhash
       convention, identical in DuckDB).  A pure narrow pass: split +
       transform/slice + posexplode, whole-stage codegen, no Python.
    3. HOT-ANCHOR CAP: anchors occurring more than ``max_df`` times in
       the distinct-text corpus are dropped (boilerplate k-grams shared
       by 10⁶ docs would otherwise create a 10¹² match blow-up — the
       q_dedup_ngram cap discipline, here on total occurrences, which
       bounds the self-join at max_df² rows per anchor).
    4. MATCHES: equi-self-join on the anchor hash (id_a < id_b).
       Match volume is Σ_anchor occ² — reducer fan-in bounded by the
       cap, never corpus².
    5. MAXIMAL SPANS: two matches on the same pair extend the same
       shared span iff they sit on the same DIAGONAL (pos_a - pos_b)
       at consecutive positions — the classic gaps-and-islands:
       island = pos_a - row_number() within (pair, diagonal), then one
       groupBy; a run of m consecutive k-gram matches is a shared span
       of m + k - 1 tokens.  The window partitions by (id_a, id_b,
       diagonal) — match grain, bounded, never corpus grain.

    Exact: any two docs sharing a ≥ min_tokens verbatim token run share
    all its k-gram anchors consecutively on one diagonal, so recall is
    100% over the capped anchor universe (md5-collision probability
    ~2⁻⁶⁰ per anchor pair, and the SQL oracle uses the identical hash,
    so outputs are bit-identical regardless).

    Docs shorter than k tokens carry no anchor and never pair.

    Round-13 restructure (measured at sf10, 500k docs / 34.5M anchors):
    the first cut shuffled the anchor relation FOUR times (occurrence
    groupBy, cap join, both self-join sides) and rebuilt the gram
    strings every run — the matches themselves are tiny (1.6M).  Now
    match generation is one count-gated groupBy(h) with in-group pair
    expansion (groups are cap-bounded, avg occupancy ~1.05, so the
    expansion is O(anchors); the count pass is map-side-combined so
    only the full-anchor join exchange moves rows), and ``anchors``
    accepts a caller-built :func:`span_anchors` table, so a caller
    probing several ways builds the anchors once.
    """
    if anchors is None:
        anchors = span_anchors(df, text_col, id_col, k)
    # COUNT-FIRST cap (round 14 — the one r13 `weak`): the first form
    # filtered size(g) AFTER collect_list, so a boilerplate anchor with
    # 10⁸ occurrences at 100 TB (license headers, nav text) would
    # materialize its full occurrence list in ONE aggregation buffer
    # before the filter dropped it — executor OOM on a key the query
    # discards anyway.  Count first instead (map-side-combined, the
    # exchange carries (h, partial_count) not occurrence rows), keep
    # only 2 ≤ occ ≤ max_df, and join anchors to the survivors BEFORE
    # any list is built: the hot anchor's 10⁸ rows die in the join and
    # never reach an aggregation buffer.  The join and the collect_list
    # groupBy share one hash partitioning on h, so match generation
    # still pays a single full anchor exchange — the shape
    # cross_span_pairs used from day one.
    ok_h = (
        anchors.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter((F.col("_occ") >= 2) & (F.col("_occ") <= max_df))
        .select("h")
    )
    groups = (
        anchors.join(ok_h, "h")
        .groupBy("h")
        .agg(F.collect_list(F.struct("rep_id", "pos")).alias("g"))
    )
    # every unordered element pair once, normalized to id_a < id_b with
    # positions carried from the matching side; same-rep pairs (a gram
    # repeated within one doc) drop — exactly the a⋈b equi-join's
    # output, without the second shuffle
    pair_expr = F.expr(
        """
        flatten(transform(g, (x, i) ->
          filter(transform(slice(g, i + 2, size(g)), y ->
            CASE
              WHEN x.rep_id < y.rep_id THEN
                struct(x.rep_id AS id_a, y.rep_id AS id_b,
                       x.pos AS pos_a, y.pos AS pos_b)
              WHEN x.rep_id > y.rep_id THEN
                struct(y.rep_id AS id_a, x.rep_id AS id_b,
                       y.pos AS pos_a, x.pos AS pos_b)
            END),
          p -> p IS NOT NULL)))
        """
    )
    m = (
        groups.select(F.explode(pair_expr).alias("p"))
        .select("p.*")
        .withColumn("_diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = W.partitionBy("id_a", "id_b", "_diag").orderBy("pos_a")
    isl = m.withColumn("_grp", F.col("pos_a") - F.row_number().over(w))
    return (
        isl.groupBy("id_a", "id_b", "_diag", "_grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k))
            .cast("long")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )


def minhash_universal_candidates(
    sh_rows: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    n_bands: int = 8,
) -> DataFrame:
    """Banded LSH candidate pairs over :func:`minhash_signatures_universal`
    signatures — the engine-auditable MinHash chain's candidate stage,
    factored out (round 13) so both the full verify query
    (q_dedup_minhash_exact) and the recall-accounting query
    (q_dedup_recall) share one definition.  Band keys are the raw
    signature pairs (rows-per-band = num_hashes / n_bands = 2); the
    self-join is banded, so reducer fan-in is bounded by band-bucket
    size.  Returns DISTINCT (id_a, id_b), id_a < id_b."""
    r = num_hashes // n_bands
    if r != 2:
        raise ValueError("minhash_universal_candidates: expects 2 rows/band")
    sigs = minhash_signatures_universal(sh_rows, id_col, num_hashes)
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.element_at("minhash", 2 * j + 1).alias("s0"),
                        F.element_at("minhash", 2 * j + 2).alias("s1"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.j", "bb.s0", "bb.s1")
    a = bands.select("j", "s0", "s1", F.col(id_col).alias("id_a"))
    b = bands.select("j", "s0", "s1", F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["j", "s0", "s1"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cross_span_pairs(
    anchors: DataFrame,
    bench_pred: Column,
    k: int = 8,
    min_tokens: int = 16,
    max_df: int = 100,
) -> DataFrame:
    """ASYMMETRIC shared-span detection (round 13): maximal verbatim
    token spans ≥ ``min_tokens`` between a small BENCHMARK slice and
    the rest of the corpus — the Lee et al. 2022 contamination use of
    the suffix-array family, on the same fixed-k-gram anchor substrate
    as :func:`shared_span_pairs` (pass a :func:`span_anchors` table).

    The asymmetry IS the plan: the benchmark anchor set is tiny, so it
    broadcasts — a broadcast semi-join prunes the corpus anchors to
    benchmark-colliding hashes BEFORE any shuffle (the corpus never
    exchanges), the hot-anchor cap then runs on the pruned relation
    (collision-sized, not corpus-sized), and islands/spans run at match
    grain.  ``bench_pred`` is a boolean Column over the anchor table's
    ``rep_id`` choosing the benchmark side.

    BLIND SPOT (by construction — ADVICE r13): the anchor table is at
    distinct-text-representative grain, so a training document that is
    an EXACT copy of a benchmark document collapsed into one rep before
    this scan and no bench/train pair is emitted for it.  That is the
    division of labor, not a loss: a full-document copy is precisely
    what the exact-dedup pass (:func:`exact_dedup` / q_dedup_exact)
    reports as a multi-copy hash group, and a contamination pipeline
    unions that report with this one.  This scan exists for the case
    exact dedup cannot see — a ≥ min_tokens quotation inside an
    otherwise-different document.

    Returns (bench_id, train_id, start_bench, start_train, span_tokens).
    """
    bench = anchors.filter(bench_pred).select(
        F.col("rep_id").alias("bench_id"),
        F.col("pos").alias("pos_b"),
        "h",
    )
    train0 = anchors.filter(~bench_pred)
    pruned = train0.join(F.broadcast(bench.select("h").distinct()), "h")
    capped = pruned.join(
        pruned.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") <= max_df)
        .select("h"),
        "h",
    ).select(
        F.col("rep_id").alias("train_id"), F.col("pos").alias("pos_t"), "h"
    )
    m = capped.join(F.broadcast(bench), "h").withColumn(
        "_diag", F.col("pos_b") - F.col("pos_t")
    )
    w = W.partitionBy("bench_id", "train_id", "_diag").orderBy("pos_b")
    isl = m.withColumn("_grp", F.col("pos_b") - F.row_number().over(w))
    return (
        isl.groupBy("bench_id", "train_id", "_diag", "_grp")
        .agg(
            F.min("pos_b").alias("start_bench"),
            F.min("pos_t").alias("start_train"),
            (F.max("pos_b") - F.min("pos_b") + F.lit(k))
            .cast("long")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select(
            "bench_id", "train_id", "start_bench", "start_train",
            "span_tokens",
        )
    )


def winnow_fingerprints(anchors: DataFrame, w: int = 9) -> DataFrame:
    """WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm) over the k-gram anchor table
    (:func:`span_anchors`): every window
    of ``w`` consecutive anchors selects its minimum-hash anchor
    (ties → rightmost position, the paper's rule), giving a fingerprint
    density of ~2/(w+1) with the guarantee that any shared run of at
    least w + k - 1 tokens shares a selected fingerprint.  This is the
    sampled substrate a 100 TB pipeline indexes INSTEAD of every
    anchor; with the q_dedup_span defaults (k=8, w=9) the guarantee
    threshold equals its min_tokens=16.

    Pure windowed selection: one window function over (doc, pos) with a
    ROWS frame — no join, no explode; selection = lexicographic min of
    struct(h, -pos) (min hash, ties to the LARGER position).  Docs with
    fewer than w anchors contribute their global minimum (the
    short-document rule, so every doc carries ≥ 1 fingerprint).

    Returns DISTINCT (rep_id, pos, h) selected fingerprints."""
    key = F.struct(F.col("h").alias("kh"), (-F.col("pos")).alias("kp"))
    win = (
        W.partitionBy("rep_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, w - 1)
    )
    # per-doc anchor count from the SAME partitioning as the selection
    # window — Spark plans all three functions over one sort exchange
    # (a groupBy+join for the count was a second full shuffle of the
    # 34.5M-row anchor table at sf10)
    wall = W.partitionBy("rep_id")
    a = anchors.select(
        "rep_id",
        "pos",
        "h",
        F.min(key).over(win).alias("_sel"),
        F.count(F.lit(1)).over(win).alias("_cnt"),
        F.count(F.lit(1)).over(wall).alias("_na"),
    )
    long_sel = a.filter(
        (F.col("_na") >= w) & (F.col("_cnt") == w)  # full windows only
    ).select(
        "rep_id",
        (-F.col("_sel.kp")).alias("pos"),
        F.col("_sel.kh").alias("h"),
    )
    short_sel = (
        a.filter(F.col("_na") < w)
        .groupBy("rep_id")
        .agg(F.min(key).alias("_sel"))
        .select(
            "rep_id",
            (-F.col("_sel.kp")).alias("pos"),
            F.col("_sel.kh").alias("h"),
        )
    )
    return long_sel.unionByName(short_sel).distinct()


def remove_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int = 16,
    max_df: int = 100,
    anchors: DataFrame | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """SPAN REMOVAL (round 14 — the intervention half of Lee et al.
    2022, completing :func:`shared_span_pairs` the way q_pii_redact
    completes q_pii_scan): for every shared span the detector reports,
    keep the min-id occurrence and SPLICE the duplicated tokens out of
    every other occurrence, re-emitting the rewritten document plus
    removed-token accounting.

    Keeper rule: shared_span_pairs normalizes pairs to id_a < id_b, so
    the id_b-side occurrence of every reported span is the non-keeper —
    a doc keeps a span iff it is the minimum id among the docs sharing
    it (for any sharing set, every non-minimum doc is id_b at least in
    its pair with the minimum).  A doc's removal set is the POSITION
    UNION of all its non-keeper intervals [start_b, start_b +
    span_tokens); overlapping intervals from different pairs just cover
    the same positions twice.

    Scale shape: the span relation is MATCH grain (tiny next to the
    corpus) and collapses to one interval-array row per affected doc,
    so the corpus-side work is an equi-join of the affected-doc slice
    against that small relation — untouched documents never move.  The
    splice itself is in-place per row: tokens are tagged with 1-based
    positions by one ``transform`` and filtered by an ``exists`` over
    the doc's own interval array (per-doc interval counts are span
    counts, a handful — the interpreted-HOF cost the r13 Arrow lessons
    warn about does not bite at that width).  No token-grain shuffle,
    no window, no explode.

    Returns one row per AFFECTED distinct-text representative:
    (rep_id, n_tokens, removed_tokens, n_spans, new_text) where
    n_spans counts removal intervals before the union and new_text is
    the original-case text with removed positions spliced out
    (token boundaries are whitespace, so positions found on the
    lowercased stream align with the original).  Compose with the
    exact-dedup attribution to fan the rewrite out to replicas."""
    if spans is None:
        spans = shared_span_pairs(
            df, text_col, id_col, k, min_tokens, max_df, anchors=anchors
        )
    ivs = (
        spans.select(
            F.col("id_b").alias("rep_id"),
            F.struct(
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
            ).alias("iv"),
        )
        .groupBy("rep_id")
        .agg(
            F.collect_list("iv").alias("ivs"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
        )
    )
    reps = df.groupBy(text_col).agg(F.min(id_col).alias("rep_id"))
    kept = F.expr(
        """
        filter(transform(_t, (tok, i) -> struct(tok AS tok,
                                                CAST(i + 1 AS BIGINT) AS p)),
               s -> NOT exists(ivs, v -> s.p >= v.s AND s.p <= v.e))
        """
    )
    return (
        reps.join(ivs, "rep_id")
        .withColumn("_t", F.split(F.col(text_col), " "))
        .select(
            "rep_id",
            F.size("_t").cast("long").alias("n_tokens"),
            "n_spans",
            kept.alias("_kept"),
        )
        .select(
            "rep_id",
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias(
                "removed_tokens"
            ),
            "n_spans",
            F.array_join(
                F.expr("transform(_kept, s -> s.tok)"), " "
            ).alias("new_text"),
        )
    )


def winnow_span_candidates(
    fingerprints: DataFrame, max_df: int = 100
) -> DataFrame:
    """Candidate anchor matches generated from WINNOWED fingerprints
    (round 14 — :func:`winnow_fingerprints` as the index substrate
    instead of the full anchor table, the ~2/(w+1)-density sampling a
    100 TB pipeline actually stores): equi-join the fingerprint table
    to itself on the hash, count-first hot-hash cap (the
    shared_span_pairs r14 discipline — a boilerplate fingerprint dies
    in the count gate before any pair is built), normalized to
    id_a < id_b with the diagonal carried.

    By the winnowing guarantee, any verbatim shared run of at least
    w + k - 1 tokens selects at least one common fingerprint in both
    documents at aligned positions, so every such span yields at least
    one candidate on its diagonal — recall over the capped universe is
    total at ≥ w + k - 1 tokens, measured (not assumed) by
    q_dedup_span_winnow.

    Returns (id_a, id_b, pos_a, pos_b, _diag)."""
    ok_h = (
        fingerprints.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter((F.col("_occ") >= 2) & (F.col("_occ") <= max_df))
        .select("h")
    )
    fpk = fingerprints.join(ok_h, "h")
    a = fpk.select(
        "h", F.col("rep_id").alias("id_a"), F.col("pos").alias("pos_a")
    )
    b = fpk.select(
        "h", F.col("rep_id").alias("id_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("_diag"),
        )
    )
