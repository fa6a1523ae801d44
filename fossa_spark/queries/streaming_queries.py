"""Windowed event-time aggregations (SURVEY.md §2c "Streaming-only").

These run the SAME expressions Structured Streaming uses — ``window()`` /
``session_window()`` are identical in batch and streaming plans — so the
DuckDB oracle checks the window semantics, and tests/test_streaming.py
re-runs them through an actual readStream→writeStream pipeline with
watermarks to check the streaming path produces the same rows.

Scale: tumbling/sliding windows are hash aggregations keyed by
(window, key) — partial agg before the shuffle; session windows shuffle by
user and merge sorted runs. Watermarks bound state growth at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fossa_spark.queries._util import cents, load, load_events, spread, sql_cents


def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window per event_type."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("win_start", "event_type")
    )


def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 10-minute width, 5-minute slide (each event lands in
    exactly two windows)."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
        .orderBy("win_start")
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window, 5-minute gap, per user. Spark's session end =
    last event ts + gap; the oracle reproduces that with gap-flag
    cumulative-sum sessionization."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "sess_start")
    )


def q_stream_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution under the oracle: the events
    fixture replayed through readStream (file source, one file per
    trigger) → watermarked tumbling aggregation → availableNow run into a
    memory sink; the returned frame is the sink table. This puts the
    actual streaming engine — state store, watermark accounting, sink
    commit — inside the driver's hash check, not just the window
    EXPRESSIONS the batch twin (q_stream_tumble) verifies."""
    import uuid

    from fossa_spark.streaming.windows import events_stream, tumbling_agg

    name = f"fs_stream_exec_{uuid.uuid4().hex[:8]}"
    agg = tumbling_agg(events_stream(spark, sf_dir))
    # state-store partition count = shuffle partitions at stream start;
    # sized to the feed (a vanilla 200-partition session pays 200 store
    # instances for an 8k-row window state), restored after
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table(name)
        .orderBy("win_start", "event_type")
    )


def q_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation run on the ROCKSDB state store —
    the provider a 100 TB stream actually deploys (state spills to local
    SSD instead of living on the JVM heap; changelog checkpointing keeps
    commits incremental). Same oracle as q_stream_exec: swapping the
    store must not change a single value. Provider is set for this run
    and restored after."""
    import uuid

    from fossa_spark.streaming.windows import events_stream, tumbling_agg

    name = f"fs_stream_rocks_{uuid.uuid4().hex[:8]}"
    agg = tumbling_agg(events_stream(spark, sf_dir))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_store = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_store is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_store
            )
    return spark.table(name).orderBy("win_start", "event_type")


def q_stream_outer_join_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT OUTER interval join under the oracle — the
    state-EVICTION-emits path the inner join never exercises: an
    unmatched click is emitted with NULL purchase columns only when the
    global watermark (min over both sides of max-event-time − 30 min)
    passes the end of its 10-minute match window; clicks the final
    watermark never clears stay buffered and are not emitted. The oracle
    reproduces exactly that rule in SQL (matched pairs UNION unmatched
    clicks with click_ts + 10 min < global final watermark)."""
    import uuid

    from fossa_spark.streaming.joins import interval_join_streams
    from fossa_spark.streaming.windows import events_stream

    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    j = interval_join_streams(clicks, buys, how="leftOuter").select(
        F.col("l_key").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.unix_micros("l_ts").alias("click_us"),
        F.unix_micros("r_ts").alias("purchase_us"),
    )
    name = f"fs_stream_ojoin_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            j.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).orderBy("user_id", "click_id", "purchase_id")


def q_stream_join_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join under the oracle: clicks and
    purchases as two watermarked streams, joined on user within a
    10-minute attribution window, run availableNow into a memory sink —
    the state-store eviction path itself produces the rows the SQL
    non-equi join oracle checks. Timestamps emitted as exact integer
    microseconds."""
    import uuid

    from fossa_spark.streaming.joins import purchases_after_clicks
    from fossa_spark.streaming.windows import events_stream

    name = f"fs_stream_join_{uuid.uuid4().hex[:8]}"
    pairs = purchases_after_clicks(events_stream(spark, sf_dir)).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        "purchase_value",
    )
    # shuffle partitions fix the state-store partition count for the run's
    # lifetime: a stream-stream join maintains TWO keyed stores per
    # partition, and at this feed size 32-200 partitions is pure overhead
    # (~10× the actual join work). Sized to the stream, restored after —
    # at a 100 TB feed you'd size it UP for the same reason.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            pairs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).orderBy("user_id", "click_id", "purchase_id")


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static enrich join under the oracle: the events stream
    joined against the static customer dimension (broadcast, stateless —
    no state store, no watermark) and run availableNow into an append-mode
    memory sink. The canonical streaming-enrichment shape: each
    micro-batch probes the broadcast dim in place, the stream never
    shuffles."""
    import uuid

    from fossa_spark.queries._util import load
    from fossa_spark.streaming.joins import enrich_with_dim
    from fossa_spark.streaming.windows import events_stream

    name = f"fs_stream_static_{uuid.uuid4().hex[:8]}"
    dim = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    enriched = enrich_with_dim(
        events_stream(spark, sf_dir), dim, "user_id", "c_custkey"
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        "c_name",
        "c_mktsegment",
    )
    # Stateless join: no state store to size, so the session's shuffle
    # partition count is irrelevant here — nothing shuffles.
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("event_id")


def q_stream_stateful_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL arbitrary-stateful streaming under the oracle:
    applyInPandasWithState running per-user (count, exact-cents total)
    through the actual state store, availableNow into an update-mode
    memory sink. Update mode emits the running totals for every key each
    micro-batch touches; n_events is strictly increasing per user, so the
    FINAL totals are recovered deterministically as max_by(totals,
    n_events) — independent of micro-batch boundaries. The grouped-state
    codepath (state (de)serialization, Arrow hand-off, update semantics)
    is what lands inside the driver's hash check."""
    import uuid

    from fossa_spark.streaming.state import running_totals
    from fossa_spark.streaming.windows import events_stream

    name = f"fs_stream_state_{uuid.uuid4().hex[:8]}"
    rt = running_totals(events_stream(spark, sf_dir))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            rt.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    t = spark.table(name)
    return (
        t.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_cents"), "n_events"
            ).alias("_f")
        )
        .select(
            "user_id",
            F.col("_f.n_events").alias("n_events"),
            (F.col("_f.total_cents").cast("double") / 100.0).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
    )


def _feed_writer(feed: str):
    """Write one file per micro-batch into ``feed`` with EXPLICIT mtime
    ordering.  The file stream source orders files by modification time;
    back-to-back writes on a coarse-mtime filesystem can tie and flip
    batch order (advisor r6), silently invalidating any cross-batch
    premise (planted dups arriving "later", index appends landing
    "before" the probe).  Each written file is re-stamped to a strictly
    increasing per-sequence timestamp, so ordering never depends on
    filesystem timer resolution."""
    import os
    import time

    seen: set[str] = set()
    t0 = time.time() - 1000  # past-dated: never ahead of the source clock

    def write(df: DataFrame, seq: int) -> None:
        df.coalesce(1).write.mode("append").parquet(feed)
        t = t0 + 10.0 * seq
        for name in os.listdir(feed):
            if name.endswith(".parquet") and name not in seen:
                seen.add(name)
                os.utime(os.path.join(feed, name), (t, t))

    return write


def q_stream_dedup_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dedup under the oracle: the events feed is replayed
    with PLANTED duplicates (every event_id % 10 == 0 row arrives again in
    a second, later file → a later micro-batch), streamed through
    dropDuplicatesWithinWatermark, and the exactly-once append output is
    aggregated per event_type. The oracle is the plain original feed — if
    any duplicate leaked through the state store, counts and sums would
    differ. The wide watermark makes the run's semantics 'dedup
    everything' (a production feed would tighten it to bound state; the
    eviction behavior itself is covered in tests/test_streaming.py)."""
    import tempfile
    import uuid

    from fossa_spark.streaming.windows import stateful_dedup

    e = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    feed = tempfile.mkdtemp(prefix="fossa_dup_feed_")

    # file source triggers one file per micro-batch, in mtime order: the
    # full feed lands in batch 1, the duplicate rows in batch 2 — so the
    # dups must be caught by state persisted ACROSS batches, not within one
    w = _feed_writer(feed)
    w(e, 1)
    w(e.filter(F.col("event_id") % 10 == 0), 2)

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    deduped = stateful_dedup(stream, key="event_id", watermark="100 days")
    name = f"fs_stream_dedup_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_id").alias("n_ids"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .orderBy("event_type")
    )


def q_stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming NEAR-dedup against a persisted bucketed MinHash
    index — the online half of the dedup family: documents arrive in
    micro-batches, each batch probes the index built from the existing
    corpus (llm/dedup.py incremental_dedup — batch-side-only shuffle,
    index read in place via its bucketed layout), novel docs are folded
    back into the index (append_to_minhash_index, insertInto preserves
    the bucket clustering), and the next batch dedups against them.

    Cross-batch novelty is exercised structurally: batch 2 re-emits five
    batch-1 texts under fresh ids — they can only be attributed if the
    between-batch index APPEND actually landed (their best match is a
    batch-1 id or that doc's own corpus duplicate, never nothing).
    Probe results are eagerly checkpointed inside incremental_dedup
    BEFORE the append mutates the index tables, so the read-then-write
    cycle per batch is race-free.  rows-only (seeded xxhash64 signature
    family has no SQL oracle); tests/test_streaming.py asserts the
    planted re-emissions all come back keep=false with jaccard 1.0.

    Scale shape: identical to the daily-batch incremental loop — state
    lives in bucketed storage, not executor memory; per-batch cost is
    O(batch × bands) probe + O(kept batch) append, independent of corpus
    size.

    The corpus index is built per run (llm/dedup.py
    build_minhash_index), and _process is replay-safe (advisor r6): each
    batch's result lands in its own overwrite-mode subdirectory and the
    index append is guarded by a processed-batch marker, so a micro-batch
    RETRY never double-counts output rows and never re-appends a
    FULLY-committed batch.  (The three index inserts are not
    transactional: a crash BETWEEN them followed by a replay re-appends
    the tables that had already committed — the marker bounds the blast
    radius to one partial batch, it is not exactly-once; a production
    loop would anti-join the append against already-indexed doc_ids or
    write the three tables under a single commit protocol.)"""
    import hashlib
    import os
    import tempfile

    from fossa_spark.llm import dedup as D

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    arriving = d.filter(F.col("doc_id") % 4 == 0)
    # STABLE prefix per (format, sf): the tables are re-registered at a
    # fresh path every run (appends stay run-local), so a uuid prefix
    # only leaked 3 catalog tables per run and defeated the format-check
    # memo (round 8; the q_sim_ivf_index advisor item, same cause)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    prefix = f"fs_stream_near_v{D.INDEX_FORMAT_VERSION}_{tag}"
    # buckets=8: per-probe index scans cost one task per bucket; at this
    # corpus (~45 k docs) 8 buckets keeps ~5 k docs/bucket — bucket count
    # is a sizing knob that should track corpus volume, and 16 was paying
    # double the per-task overhead for no parallelism gain (round 8)
    D.build_minhash_index(
        corpus, prefix, tempfile.mkdtemp(prefix="fossa_snear_idx_"),
        buckets=8,
    )

    feed = tempfile.mkdtemp(prefix="fossa_snear_feed_")
    out_dir = tempfile.mkdtemp(prefix="fossa_snear_out_")
    markers = tempfile.mkdtemp(prefix="fossa_snear_mark_")
    b1 = arriving.filter(F.col("doc_id") % 8 == 0)
    b2 = arriving.filter(F.col("doc_id") % 8 != 0)
    planted = (
        b1.orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    )

    # one file per micro-batch, explicit mtime order (_feed_writer):
    # batch 1 must be fully processed — probed AND appended — before
    # batch 2's planted re-emissions arrive.
    w = _feed_writer(feed)
    w(b1, 1)
    w(b2.unionByName(planted), 2)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a frame bound to the micro-batch CLONE of
        # the session; its cloned state can hold a pre-append snapshot
        # of the index tables' file listing, so batch N+1 would probe a
        # stale index and silently miss batch-N appends (observed: the
        # planted exact copy came back keep=true).  Resolve the tables
        # through the batch's own session and refresh them first.
        spark_b = batch_df.sparkSession
        for t in ("bands", "shingles", "sizes"):
            spark_b.catalog.refreshTable(f"{prefix}_{t}")
        # one Arrow shingle pass per batch, shared by probe AND append
        # (sh_rows built with the index's k — the override contract).
        # parallelism=4: a few-thousand-row micro-batch wants a handful
        # of Arrow tasks, not the corpus-width 32-way spread (round 8 —
        # the default was costing ~8 s of worker round trips per batch)
        sh = D.shingle_hash_rows(batch_df, "text", "doc_id", 5,
                                 parallelism=4).persist()
        res = D.incremental_dedup(
            batch_df, spark_b, prefix, threshold=0.5, sh_rows=sh
        )
        # res is already eagerly checkpointed (incremental_dedup's
        # contract) — safe to mutate the index it was probed against.
        # The append is guarded per batch id: foreachBatch may REPLAY a
        # batch after a failure, and insertInto is not transactional —
        # an unguarded replay would double-append (advisor r6).
        def _append() -> None:
            marker = os.path.join(markers, f"appended_b{batch_id}")
            if os.path.exists(marker):
                return
            kept_ids = res.filter(F.col("keep")).select("doc_id")
            D.append_to_minhash_index(
                batch_df.join(kept_ids, "doc_id", "left_semi"),
                spark_b,
                prefix,
                sh_rows=sh.join(kept_ids, "doc_id", "left_semi"),
            )
            open(marker, "w").close()

        def _write_out() -> None:
            # per-batch overwrite subdirectory (partition layout): a
            # replay rewrites its own batch's rows, never appends twice
            res.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

        # the append and the result write both read only the checkpointed
        # res / persisted sh and touch disjoint outputs — overlap them
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_append), pool.submit(_write_out)]:
                f.result()
        sh.unpersist()

    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    # batch-scale micro-batches under corpus-scale shuffle width is pure
    # task overhead — the house pattern of q_stream_dedup_exec
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(_process)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.parquet(out_dir)
        .select(
            F.col("batch_id").cast("long").alias("batch_id"),
            "doc_id",
            "dup_of",
            "jaccard",
            "keep",
        )
        .orderBy("doc_id")
    )


def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming ingestion (round 9, VERDICT r8 item 5) — the
    flagship "daily crawl drop" loop the whole curation family builds
    toward, composed in ONE foreachBatch: each arriving micro-batch
    (1) probes the persisted exact digest index (incremental_exact_dedup
    — batch-side-only shuffle), (2) keeps only the NOVEL docs,
    (3) appends them to the index AND to the training-shard layout
    (append_to_shards — same pure-function-of-id placement as the base),
    and (4) emits that batch's per-shard MANIFEST DELTA computed from the
    re-read appended files.

    Cross-batch novelty is load-bearing: batch 2 re-emits five batch-1
    docs under +20M ids and corpus docs under +10M ids — if either the
    index append or the probe refresh failed, those plants would be
    "novel", get placed, and move batch 2's delta rows, which the ORACLE
    (the whole loop is exact-hash based, so it is SQL-expressible end to
    end, unlike q_stream_dedup_near's seeded MinHash) re-derives: novelty
    against corpus, then against corpus + batch-1 novels, then
    q_shard_delta's placement + digest math per batch.

    Replay safety: the shard append is idempotent (a replayed batch's
    ``batch=`` partition already exists → the delta is recomputed from
    the files instead of re-appended), the result lands in a per-batch
    overwrite subdirectory, and the index append is guarded by a
    processed-batch marker (the q_stream_dedup_near convention — bounds
    the blast radius to one partial batch, not exactly-once).

    Scale shape: per-batch cost is O(batch) probe + O(novel) append —
    state lives in bucketed storage and the partitioned shard layout,
    never executor memory; the delta read prunes to the batch's own
    directories.  Base index and base shards are written per run, so
    appends stay run-local."""
    import hashlib
    import tempfile

    from fossa_spark.llm import curation as C
    from fossa_spark.llm import dedup as D

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    arriving = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # stable per-sf name, re-registered at a fresh path per run
    digest = f"fs_singest_{tag}_digest"
    D.build_exact_index(
        corpus, spark, digest, tempfile.mkdtemp(prefix="fossa_singest_idx_")
    )

    empty_comp = spark.createDataFrame([], "doc_id long, component long")
    shard_dir = tempfile.mkdtemp(prefix="fossa_singest_shards_")
    C.write_training_shards(corpus, empty_comp, shard_dir, n_shards=16)

    feed = tempfile.mkdtemp(prefix="fossa_singest_feed_")
    out_dir = tempfile.mkdtemp(prefix="fossa_singest_out_")
    markers = tempfile.mkdtemp(prefix="fossa_singest_mark_")
    b1 = arriving.filter(F.col("doc_id") % 8 == 0)
    b2 = arriving.filter(F.col("doc_id") % 8 != 0)
    planted_corpus = corpus.filter(F.col("doc_id") % 16 == 1).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    planted_b1 = (
        b1.orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text")
    )

    w = _feed_writer(feed)
    w(b1, 1)
    w(b2.unionByName(planted_corpus).unionByName(planted_b1), 2)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_tag = f"b{batch_id}"
        # the marker test is pure local I/O — it must come FIRST so a
        # replayed fully-committed batch never pays the probe shuffle +
        # checkpoint just to discard them (review r9)
        marker = os.path.join(markers, f"done_{batch_tag}")
        if os.path.exists(marker):
            return
        # resolve + refresh through the micro-batch clone's own session
        # (the q_stream_dedup_near stale-file-listing lesson)
        spark_b = batch_df.sparkSession
        spark_b.catalog.refreshTable(digest)
        res = D.incremental_exact_dedup(batch_df, spark_b, digest)
        # checkpoint the probe verdict BEFORE mutating the index it read
        res = res.localCheckpoint(eager=True)
        novel = batch_df.join(
            res.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=True)
        tag_exists = any(
            os.path.isdir(os.path.join(shard_dir, sd, f"batch={batch_tag}"))
            for sd in os.listdir(shard_dir)
            if sd.startswith("shard=")
        )
        if tag_exists:  # partial replay: recompute the delta, never re-append
            delta = C.shard_manifest(
                spark_b, shard_dir, batch=batch_tag
            ).drop("first_doc")
        elif batch_tag in C._consumed_batch_tags(shard_dir):
            # the batch WAS appended but a maintenance compaction folded
            # its partition before this replay committed — the per-batch
            # delta is no longer derivable from files.  Re-appending
            # would break base + deltas == rebuild, so fail loudly
            # unless the delta already COMMITTED: require its _SUCCESS
            # marker, not bare directory existence — a crash mid-write
            # leaves the directory without it (review r9).
            if not os.path.exists(
                f"{out_dir}/batch_id={batch_id}/_SUCCESS"
            ):
                raise RuntimeError(
                    f"batch {batch_tag} was compacted away mid-replay and "
                    "its delta was never recorded; recover from the shard "
                    "manifest, do not re-append"
                )
            open(marker, "w").close()
            return
        else:
            delta = C.append_to_shards(
                novel, res, shard_dir, n_shards=16, batch_tag=batch_tag
            )
        D.append_to_exact_index(novel, spark_b, digest)
        delta.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        open(marker, "w").close()

    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(_process)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.parquet(out_dir)
        .select(
            F.col("batch_id").cast("long").alias("batch_id"),
            F.col("shard").cast("long").alias("shard"),
            "n_docs", "n_tokens", "content_sum", "min_doc", "max_doc",
        )
        .orderBy("batch_id", "shard")
    )


def q_stream_upsert_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming upsert (materialized-view maintenance) under the
    oracle: the events feed arrives in two interleaved micro-batches
    (event_id parity → each batch holds a time-mixed slice, so a later
    batch must replace a user's row ONLY when its event is newer);
    foreachBatch merges each batch into a latest-row-per-user table —
    union → per-user window keep-newest, the exact algebra a Delta/Iceberg
    MERGE executes — with an eager localCheckpoint per batch so the
    maintained state's lineage stays O(1) across batches instead of
    growing by one union per batch. The final table must equal the batch
    answer (max-(ts, event_id) row per user) bit-for-bit: any lost update
    or stale overwrite in the incremental path flips the hash."""
    import tempfile

    from pyspark.sql import Window as W

    e = load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    feed = tempfile.mkdtemp(prefix="fossa_upsert_feed_")

    # explicit mtime spacing via _feed_writer: the upsert result is
    # order-independent (keep-newest by ts/event_id), but a stable
    # batch order keeps runs comparable
    write = _feed_writer(feed)
    write(e.filter(F.col("event_id") % 2 == 0), 1)
    write(e.filter(F.col("event_id") % 2 == 1), 2)

    state: dict = {"df": None}
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        cur = batch_df
        if state["df"] is not None:
            cur = state["df"].unionByName(batch_df)
        state["df"] = (
            cur.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
            .localCheckpoint(eager=True)
        )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return state["df"].orderBy("user_id")


def q_stream_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mini-batch k-means under the EXACT oracle (round 10 —
    streaming ML with a hash-checked answer): the embeddings table
    arrives in three micro-batches (vec_id mod 3 slices, one file per
    trigger in mtime order), and foreachBatch folds each batch into the
    lifetime centroids by the running-mean rule in exact fixed point
    (ml.kmeans_update — v_new = floor((n_old*v_old + sum_batch) /
    (n_old + n_batch)), Sculley WWW'10's mini-batch update with the
    per-cluster count as the learning-rate schedule). Initialization:
    the k lowest vec_ids of the FIRST batch. Because every update is a
    pure integer function of (batch contents, batch order) and the
    batch order is pinned by the feed's mtimes, the DuckDB
    oracle unrolls the whole stream batch by batch and the final
    (centroid, count) state hash-matches.

    Per batch the corpus pays one map-only assignment pass + one
    N-row -> k-row map-side-combined shuffle; centroid/count state is
    control-plane sized and localCheckpointed (O(1) lineage across
    batches — the q_stream_upsert_exec discipline). This is the online
    half of q_kmeans exactly as q_stream_dedup_near is the online half
    of the batch near-dedup loop."""
    import tempfile

    from fossa_spark import ml

    k = 4
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    feed = tempfile.mkdtemp(prefix="fossa_kmeans_feed_")

    w = _feed_writer(feed)
    for i in range(3):
        w(e.filter(F.col("vec_id") % 3 == i), i + 1)

    state: dict = {}

    def step(batch_df: DataFrame, batch_id: int) -> None:
        # each micro-batch is ONE coalesced feed file -> 1-2 scan
        # partitions; the 64-dim argmin fold is CPU-bound per row, so
        # spread the batch across the cores (no-op at real batch widths)
        vecs = ml.quantize_vectors(spread(batch_df, spark))
        if "cents" not in state:
            first = vecs.select(F.size("qv").alias("d")).first()
            if first is None:
                # Refuse loudly (advisor r10): the oracle unrolls init
                # on the vec_id%3==0 slice, so silently deferring init
                # to a later batch would surface as an opaque hash
                # mismatch — a feed regression must be an ERROR here.
                raise ValueError(
                    "q_stream_kmeans: first micro-batch is empty — the "
                    "feed always starts with the vec_id%3==0 "
                    "slice; a deferred init would diverge from the "
                    "unrolled oracle"
                )
            state["dim"] = int(first["d"])
            # the shared deterministic init rule (oracle contract)
            state["cents"] = ml.kmeans_init(vecs, k).localCheckpoint()
            state["counts"] = (
                spark.range(k)
                .select(
                    F.col("id").cast("int").alias("cluster"),
                    F.lit(0).cast("bigint").alias("n"),
                )
                .localCheckpoint()
            )
        state["cents"], state["counts"] = ml.kmeans_update(
            vecs, state["cents"], state["counts"], state["dim"]
        )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(step)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        state["cents"]
        .join(state["counts"], "cluster")
        .select(
            "cluster",
            "pos",
            F.col("v").alias("centroid_q"),
            F.col("n").alias("n_members"),
        )
        .orderBy("cluster", "pos")
    )


def q_stream_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING regression by sufficient-statistics folding: the
    lineitem feed arrives in two micro-batches and foreachBatch merges
    each batch's exact integer OLS moments (n, Sx, Sy, Sxy, Sxx, Syy —
    ml.ols_sufficient_stats' grain) into per-group lifetime totals with
    a union + re-aggregate + localCheckpoint (the q_stream_upsert_exec
    O(1)-lineage discipline). Moments are ADDITIVE and commutative, so
    the streamed fold equals the one-shot batch aggregate BIT-FOR-BIT —
    the oracle is literally q_linreg's closed form over the full table,
    and any lost batch, double-count, or drifted partial sum flips the
    hash. This is how a 100 TB pipeline keeps regressions fresh: fold
    tiny per-batch moment tables, never rescan history."""
    import tempfile

    from fossa_spark import ml

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("y"),
    )
    feed = tempfile.mkdtemp(prefix="fossa_linreg_feed_")

    w = _feed_writer(feed)
    w(li.filter(F.col("l_orderkey") % 2 == 0), 1)
    w(li.filter(F.col("l_orderkey") % 2 == 1), 2)

    keys = ["l_returnflag", "l_linestatus"]
    state: dict = {"m": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        m = batch_df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        if state["m"] is not None:
            m = (
                state["m"].unionByName(m)
                .groupBy(*keys)
                .agg(*[F.sum(c).alias(c)
                       for c in ("n", "sx", "sy", "sxy", "sxx", "syy")])
            )
        state["m"] = m.localCheckpoint(eager=True)

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(fold)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # one closed-form definition for batch AND stream: the moments frame
    # projects through the same expression tree q_linreg uses
    return ml.ols_fit_from_moments(state["m"], keys).orderBy(*keys)


def q_stream_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY into the versioned table (round 10 — the
    write-side composition of fossa_spark/versioned.py): the table is
    seeded with the even order keys (v1), then a change feed arrives in
    two micro-batches — batch 1 inserts keys ≡1 (mod 4) and deletes
    keys ≡0 (mod 8); batch 2 inserts keys ≡3 (mod 4) with a modified
    payload and deletes keys ≡6 (mod 10) — and foreachBatch commits
    each micro-batch as one table version with a TAGGED (idempotent)
    commit, so an at-least-once replay re-delivers a batch without
    double-committing it. The final as-of read folds v1..v3 and the
    ORACLE re-derives the end-state membership and payloads
    set-theoretically from orders — a lost tombstone, a double commit,
    or a mis-folded version moves the audit. A tombstone for a key
    deleted in an earlier batch (keys ≡16 mod 40 are hit by BOTH
    deletes) must net to a no-op, which the fold guarantees.

    Scale shape: per-batch cost is one append write of the batch's own
    rows (no read-modify-write); the final fold is one shuffle over
    base + deltas with partition pruning on v=. This is exactly how a
    Structured Streaming pipe maintains a mutable 100 TB dimension
    without a lakehouse dependency."""
    import tempfile

    from fossa_spark import versioned as V

    o = load(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_custkey", "o_orderstatus")
    k = F.col("o_orderkey")
    up, de = F.lit(V.UPSERT), F.lit(V.DELETE)

    tbl = os.path.join(tempfile.mkdtemp(prefix="fossa_svers_"), "tbl")
    V.init_table(tbl, key=["o_orderkey"])
    V.commit(tbl, base.filter(k % 2 == 0).withColumn(V.OP_COL, up),
             expect_version=0)

    b1 = (
        base.filter(k % 4 == 1).withColumn(V.OP_COL, up)
        .unionByName(base.filter(k % 8 == 0).withColumn(V.OP_COL, de))
    )
    b2 = (
        base.filter(k % 4 == 3)
        .withColumn("o_custkey", F.col("o_custkey") + 1_000_000)
        .withColumn(V.OP_COL, up)
        .unionByName(base.filter(k % 10 == 6).withColumn(V.OP_COL, de))
    )
    feed = tempfile.mkdtemp(prefix="fossa_svers_feed_")

    w = _feed_writer(feed)
    w(b1, 1)
    w(b2, 2)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        V.commit(tbl, batch_df, tag=f"b{batch_id}")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(_apply)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        V.read_as_of(spark, tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
        .withColumn("version", F.lit(V.current_version(tbl)))
        .orderBy("o_orderstatus")
    )


def _stream_kmeans_sql(k: int, batches: int, scale: int) -> str:
    """Unroll the streaming mini-batch k-means run batch by batch as
    chained MATERIALIZED CTEs: batch i's slice (vec_id mod batches =
    i-1) is assigned against c{i-1}, then folded by the exact weighted
    running-mean rule with the lifetime counts n{i-1} — precisely what
    foreachBatch executes, so the final state hash-matches. Floor-div
    uses the two-engine-safe modulus form (ml._floordiv)."""
    head = f"""
        WITH q AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
                   AS qv
          FROM embeddings
        ),
        e AS MATERIALIZED (
          SELECT vec_id, generate_subscripts(qv, 1) - 1 AS pos,
                 unnest(qv) AS qval
          FROM q
        ),
        init AS (
          SELECT vec_id, qv,
                 row_number() OVER (ORDER BY vec_id) - 1 AS cluster
          FROM q WHERE vec_id % {batches} = 0 ORDER BY vec_id LIMIT {k}
        ),
        c0 AS MATERIALIZED (
          SELECT cluster, generate_subscripts(qv, 1) - 1 AS pos,
                 unnest(qv) AS v
          FROM init
        ),
        n0 AS (SELECT DISTINCT cluster, CAST(0 AS BIGINT) AS n FROM c0)"""
    parts = [head]
    for i in range(1, batches + 1):
        pred = f"vec_id % {batches} = {i - 1}"
        parts.append(f""",
        d{i} AS MATERIALIZED (
          SELECT e.vec_id, c.cluster,
                 SUM((e.qval - c.v) * (e.qval - c.v)) AS dist
          FROM e JOIN c{i - 1} c USING (pos)
          WHERE e.{pred}
          GROUP BY e.vec_id, c.cluster
        ),
        a{i} AS MATERIALIZED (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d{i}
          ) WHERE rn = 1
        ),
        u{i} AS MATERIALIZED (
          SELECT a.cluster, e.pos, SUM(e.qval) AS s,
                 CAST(COUNT(*) AS BIGINT) AS nb
          FROM a{i} a JOIN e USING (vec_id)
          GROUP BY a.cluster, e.pos
        ),
        c{i} AS MATERIALIZED (
          SELECT p.cluster, p.pos,
                 CASE WHEN u.s IS NOT NULL THEN
                   CAST(((n.n * p.v + u.s)
                         - ((((n.n * p.v + u.s) % (n.n + u.nb))
                             + (n.n + u.nb)) % (n.n + u.nb)))
                        // (n.n + u.nb) AS BIGINT)
                 ELSE p.v END AS v
          FROM c{i - 1} p
          JOIN n{i - 1} n USING (cluster)
          LEFT JOIN u{i} u ON p.cluster = u.cluster AND p.pos = u.pos
        ),
        n{i} AS MATERIALIZED (
          SELECT n.cluster, n.n + COALESCE(b.nb, 0) AS n
          FROM n{i - 1} n
          LEFT JOIN (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS nb
                     FROM a{i} GROUP BY cluster) b USING (cluster)
        )""")
    parts.append(f"""
        SELECT c.cluster, CAST(c.pos AS INTEGER) AS pos,
               c.v AS centroid_q, n.n AS n_members
        FROM c{batches} c JOIN n{batches} n USING (cluster)
        ORDER BY c.cluster, c.pos""")
    return "".join(parts)


def q_stream_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cross-document span dedup (round 14 — VERDICT r13
    item 6): the q_dedup_span capability run the way a 100 TB pipeline
    actually runs it — new micro-batches PROBE a persisted anchor
    index instead of re-scanning the corpus.  Base corpus (75% slice)
    anchors are written once; each arriving micro-batch computes
    anchors for its own documents only, finds every maximal ≥ 16-token
    span shared with ANY earlier document (base ∪ previously appended
    batches), and appends its anchors for later batches.  Batch 2
    re-emits the three lowest-id batch-1 documents under +10M ids, so
    its output can only be right if the batch-1 anchor append landed
    AND the probe saw it — the cross-batch premise the oracle checks.

    Scale shape per batch (the cross_span_pairs asymmetry): the batch
    anchor set is tiny and BROADCASTS; the corpus-sized index is
    pruned map-side to batch-colliding hashes before any exchange and
    the hot-anchor cap runs count-first on the pruned relation — the
    index never shuffles, so per-batch cost is bounded by batch size,
    not corpus size.  Anchors append at batch grain (marker-guarded
    against foreachBatch replays); islands/spans run at match grain.

    Oracle: the whole loop is md5-anchor arithmetic, so both batches
    unroll in SQL — batch 1 vs base anchors, batch 2 vs base ∪
    batch-1 anchors — the q_stream_ingest discipline."""
    import tempfile

    from pyspark.sql import Window as W

    from fossa_spark.llm import dedup as D

    d = spread(load(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text"
    )
    base = d.filter(F.col("doc_id") % 4 != 3)
    b1 = d.filter(F.col("doc_id") % 8 == 3)
    b2 = d.filter(F.col("doc_id") % 8 == 7)
    planted = (
        b1.orderBy("doc_id")
        .limit(3)
        .select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    )

    # the base anchor table is written once and never mutated; the
    # per-batch APPENDS go to a separate working dir
    base_dir = tempfile.mkdtemp(prefix="fossa_sspan_base_")
    D.span_anchors(base, "text", "doc_id", 8).write.mode("overwrite").parquet(
        base_dir
    )
    work_dir = tempfile.mkdtemp(prefix="fossa_sspan_work_")
    feed = tempfile.mkdtemp(prefix="fossa_sspan_feed_")
    out_dir = tempfile.mkdtemp(prefix="fossa_sspan_out_")
    markers = tempfile.mkdtemp(prefix="fossa_sspan_mark_")

    w = _feed_writer(feed)
    w(b1, 1)
    w(b2.unionByName(planted), 2)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(markers, f"done_b{batch_id}")
        if os.path.exists(marker):
            return
        spark_b = batch_df.sparkSession
        # batch anchors (rep grain within the batch), checkpointed so
        # the probe, the broadcast prune, and the append all reuse one
        # materialization
        newa = D.span_anchors(batch_df, "text", "doc_id", 8).localCheckpoint(
            eager=True
        )
        idx = spark_b.read.parquet(base_dir)
        if any(n.endswith(".parquet") for n in os.listdir(work_dir)):
            idx = idx.unionByName(spark_b.read.parquet(work_dir))
        pruned = idx.join(F.broadcast(newa.select("h").distinct()), "h")
        capped = pruned.join(
            pruned.groupBy("h")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") <= 100)
            .select("h"),
            "h",
        ).select(
            F.col("rep_id").alias("old_id"), F.col("pos").alias("pos_o"), "h"
        )
        newb = newa.select(
            F.col("rep_id").alias("new_id"), F.col("pos").alias("pos_n"), "h"
        )
        m = capped.join(F.broadcast(newb), "h").withColumn(
            "_diag", F.col("pos_n") - F.col("pos_o")
        )
        win = W.partitionBy("new_id", "old_id", "_diag").orderBy("pos_n")
        isl = m.withColumn("_grp", F.col("pos_n") - F.row_number().over(win))
        spans = (
            isl.groupBy("new_id", "old_id", "_diag", "_grp")
            .agg(
                F.min("pos_n").alias("start_new"),
                F.min("pos_o").alias("start_old"),
                (F.max("pos_n") - F.min("pos_n") + F.lit(8))
                .cast("long")
                .alias("span_tokens"),
            )
            .filter(F.col("span_tokens") >= 16)
            .select(
                "new_id", "old_id", "start_new", "start_old", "span_tokens"
            )
        )
        spans.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        # append AFTER the probe result is on disk; guarded by the
        # marker so a replay never double-appends
        newa.write.mode("append").parquet(work_dir)
        open(marker, "w").close()

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(_process)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.parquet(out_dir)
        .select(
            F.col("batch_id").cast("long").alias("batch_id"),
            "new_id",
            "old_id",
            "start_new",
            "start_old",
            "span_tokens",
        )
        .orderBy(
            "batch_id", "new_id", "old_id", "start_new", "start_old"
        )
    )


def _stream_span_sql() -> str:
    """Two-batch unroll of q_stream_dedup_span: anchor CTEs per
    relation, then the prune → cap → join → islands chain per batch,
    batch 2's index = base ∪ batch-1 anchors."""

    def anchors(name: str, rel: str) -> str:
        return f"""
        {name} AS (
          SELECT rep_id, gs AS pos,
                 CAST(('0x' || substr(
                   md5(array_to_string(t[gs : gs + 7], ' ')), 1, 15)
                 ) AS BIGINT) AS h
          FROM (SELECT *, unnest(generate_series(1, len(t) - 7)) AS gs
                FROM (SELECT rep_id, string_split(lower(text), ' ') AS t
                      FROM (SELECT text, MIN(doc_id) AS rep_id
                            FROM {rel} GROUP BY text)))
        )"""

    def match(i: int, idx: str, newa: str) -> str:
        return f"""
        pruned{i} AS (
          SELECT x.* FROM {idx} x
          JOIN (SELECT DISTINCT h FROM {newa}) USING (h)
        ),
        capped{i} AS (
          SELECT rep_id AS old_id, pos AS pos_o, h FROM pruned{i}
          JOIN (SELECT h FROM pruned{i} GROUP BY h HAVING COUNT(*) <= 100)
            USING (h)
        ),
        mm{i} AS (
          SELECT n.rep_id AS new_id, c.old_id, n.pos AS pos_n, c.pos_o
          FROM capped{i} c JOIN {newa} n USING (h)
        ),
        isl{i} AS (
          SELECT new_id, old_id, pos_n, pos_o,
                 pos_n - ROW_NUMBER() OVER (
                   PARTITION BY new_id, old_id, (pos_n - pos_o)
                   ORDER BY pos_n
                 ) AS grp
          FROM mm{i}
        ),
        sp{i} AS (
          SELECT new_id, old_id,
                 MIN(pos_n) AS start_new, MIN(pos_o) AS start_old,
                 CAST(MAX(pos_n) - MIN(pos_n) + 8 AS BIGINT) AS span_tokens
          FROM isl{i} GROUP BY new_id, old_id, (pos_n - pos_o), grp
        )"""

    return f"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3
        ),
        b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 8 = 3),
        b2 AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 8 = 7
          UNION ALL
          SELECT doc_id + 10000000 AS doc_id, text
          FROM (SELECT doc_id, text FROM documents WHERE doc_id % 8 = 3
                ORDER BY doc_id LIMIT 3)
        ),{anchors("a_base", "base")},{anchors("a_b1", "b1")},{anchors("a_b2", "b2")},
        idx2 AS (SELECT * FROM a_base UNION ALL SELECT * FROM a_b1),
        {match(1, "a_base", "a_b1").lstrip()},
        {match(2, "idx2", "a_b2").lstrip()}
        SELECT CAST(0 AS BIGINT) AS batch_id, new_id, old_id,
               start_new, start_old, span_tokens
        FROM sp1 WHERE span_tokens >= 16
        UNION ALL
        SELECT CAST(1 AS BIGINT) AS batch_id, new_id, old_id,
               start_new, start_old, span_tokens
        FROM sp2 WHERE span_tokens >= 16
        ORDER BY batch_id, new_id, old_id, start_new, start_old
    """


QUERIES = {
    "q_stream_dedup_span": q_stream_dedup_span,
    "q_stream_kmeans": q_stream_kmeans,
    "q_stream_linreg": q_stream_linreg,
    "q_stream_tumble": q_stream_tumble,
    "q_stream_versioned": q_stream_versioned,
    "q_stream_upsert_exec": q_stream_upsert_exec,
    "q_stream_exec": q_stream_exec,
    "q_stream_join_exec": q_stream_join_exec,
    "q_stream_outer_join_exec": q_stream_outer_join_exec,
    "q_stream_rocksdb": q_stream_rocksdb,
    "q_stream_static_join": q_stream_static_join,
    "q_stream_stateful_exec": q_stream_stateful_exec,
    "q_stream_dedup_exec": q_stream_dedup_exec,
    "q_stream_dedup_near": q_stream_dedup_near,
    "q_stream_ingest": q_stream_ingest,
    "q_stream_slide": q_stream_slide,
    "q_stream_session": q_stream_session,
}

from fossa_spark.ml import KMEANS_SCALE as _KMEANS_SCALE  # noqa: E402
from fossa_spark.queries.ml_queries import ORACLE as _ML_ORACLE  # noqa: E402

ORACLE = {
    "q_stream_dedup_span": _stream_span_sql(),
    "q_stream_kmeans": _stream_kmeans_sql(4, 3, _KMEANS_SCALE),
    # moments are additive, so the streamed fold must equal the one-shot
    # batch aggregate exactly: the oracle IS q_linreg's closed form
    "q_stream_linreg": None,  # bound below from ml_queries (single source)
    # end state after v1 (evens) + b1 (insert %4=1, delete %8=0) +
    # b2 (insert %4=3 modified, delete %10=6): odds survive in full,
    # evens survive unless tombstoned by either delete
    "q_stream_versioned": """
        WITH final AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 4 = 3 THEN o_custkey + 1000000
                      ELSE o_custkey END AS cust,
                 o_orderstatus
          FROM orders
          WHERE (o_orderkey % 2 = 0 AND o_orderkey % 8 <> 0
                 AND o_orderkey % 10 <> 6)
             OR o_orderkey % 2 = 1
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(cust) AS BIGINT) AS cust_sum,
               CAST(3 AS INT) AS version
        FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    # the full ingestion loop re-derived batch by batch: batch-1 novelty
    # against the corpus digest, batch-2 novelty against corpus + batch-1
    # novels (proving the between-batch index append landed), then
    # q_shard_delta's placement + digest math per (batch, shard)
    "q_stream_ingest": """
        WITH corpus AS (
          SELECT doc_id, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 <> 0
        ),
        b1 AS (
          SELECT doc_id, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 = 0 AND doc_id % 8 = 0
        ),
        b2 AS (
          SELECT doc_id, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
          UNION ALL
          SELECT doc_id + 10000000, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
          FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 16 = 1
          UNION ALL
          SELECT doc_id + 20000000, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
          FROM (SELECT doc_id, text FROM documents
                WHERE doc_id % 4 = 0 AND doc_id % 8 = 0
                ORDER BY doc_id LIMIT 5)
        ),
        novel1 AS (
          SELECT b1.doc_id, b1.text, b1.h FROM b1
          LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON b1.h = c.h
          WHERE c.h IS NULL
        ),
        novel2 AS (
          SELECT b2.doc_id, b2.text FROM b2
          LEFT JOIN (SELECT h FROM corpus UNION SELECT h FROM novel1) i
            ON b2.h = i.h
          WHERE i.h IS NULL
        ),
        placed AS (
          SELECT CAST(0 AS BIGINT) AS batch_id, doc_id, text FROM novel1
          UNION ALL
          SELECT CAST(1 AS BIGINT), doc_id, text FROM novel2
        ),
        math AS (
          SELECT batch_id, doc_id,
                 CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                      1, 2)) AS BIGINT) % 16 AS shard,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                                      1, 10)) AS BIGINT) AS row_hash,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS n_tok
          FROM placed
        )
        SELECT batch_id, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(row_hash) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM math GROUP BY batch_id, shard ORDER BY batch_id, shard
    """,
    "q_stream_upsert_exec": """
        WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                 event_type, value
          FROM events
        ),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rk
          FROM e
        )
        SELECT event_id, user_id, ts, event_type, value
        FROM r WHERE rk = 1 ORDER BY user_id
    """,
    # the duplicates are planted Spark-side only, so the oracle is simply
    # the original feed: any dup leaking through the state store breaks
    # n_events AND total_value; n_ids == n_events proves per-key uniqueness
    "q_stream_dedup_exec": f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
               CAST(SUM({sql_cents("value")}) AS DOUBLE) / 100.0
                 AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q_stream_stateful_exec": f"""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM({sql_cents("value")}) AS DOUBLE) / 100.0 AS total_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    "q_stream_static_join": """
        SELECT e.event_id, e.user_id,
               epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
               e.event_type, e.value, c.c_name, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id
    """,
    # identical to q_stream_exec's oracle — swapping the state store to
    # RocksDB must not change a single value
    "q_stream_rocksdb": f"""
        SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS win_start,
               time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                 + INTERVAL '10 minutes' AS win_end,
               event_type, COUNT(*) AS n_events,
               CAST(SUM({sql_cents("value")}) AS DOUBLE) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2, 3 ORDER BY win_start, event_type
    """,
    # same semantics as q_stream_tumble — the POINT: the real streaming
    # run must reproduce the batch/SQL answer exactly
    "q_stream_exec": f"""
        SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS win_start,
               time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                 + INTERVAL '10 minutes' AS win_end,
               event_type, COUNT(*) AS n_events,
               CAST(SUM({sql_cents("value")}) AS DOUBLE) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2, 3 ORDER BY win_start, event_type
    """,
    # matched pairs UNION unmatched clicks whose match window the global
    # final watermark (min over both sides of max ts - 30 min) cleared —
    # precisely the state-eviction emission rule (verified: 9 matched +
    # 1996 of 2006 unmatched at sf0.01)
    "q_stream_outer_join_exec": """
        WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                   FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
              FROM events WHERE event_type = 'purchase'),
        wm AS (SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
                        - INTERVAL '30 minutes' AS w),
        m AS (
          SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                 epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
          FROM c JOIN p ON c.user_id = p.user_id
            AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
        )
        SELECT * FROM m
        UNION ALL
        SELECT c.user_id, c.event_id, CAST(NULL AS BIGINT),
               epoch_us(c.ts), CAST(NULL AS BIGINT)
        FROM c
        WHERE c.event_id NOT IN (SELECT click_id FROM m)
          AND c.ts + INTERVAL '10 minutes' < (SELECT w FROM wm)
        ORDER BY user_id, click_id, purchase_id
    """,
    "q_stream_join_exec": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
               epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us,
               p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND CAST(p.ts AS TIMESTAMP) > CAST(c.ts AS TIMESTAMP)
         AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
                                        + INTERVAL '10 minutes'
        ORDER BY c.user_id, click_id, purchase_id
    """,
    "q_stream_tumble": f"""
        SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS win_start,
               time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                 + INTERVAL '10 minutes' AS win_end,
               event_type, COUNT(*) AS n_events,
               CAST(SUM({sql_cents("value")}) AS DOUBLE) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2, 3 ORDER BY win_start, event_type
    """,
    "q_stream_slide": """
        WITH hits AS (
          SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS win_start
          FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL '5 minutes'
          FROM events
        )
        SELECT win_start, COUNT(*) AS n_events
        FROM hits GROUP BY win_start ORDER BY win_start
    """,
    "q_stream_session": f"""
        WITH ordered AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 CASE WHEN CAST(ts AS TIMESTAMP)
                        - lag(CAST(ts AS TIMESTAMP))
                          OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
                        > INTERVAL '5 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
        ),
        tagged AS (
          SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM ordered
        )
        SELECT user_id, MIN(ts) AS sess_start,
               MAX(ts) + INTERVAL '5 minutes' AS sess_end,
               COUNT(*) AS n_events,
               CAST(SUM({sql_cents("value")}) AS DOUBLE) / 100.0 AS total_value
        FROM tagged GROUP BY user_id, sess_id ORDER BY user_id, sess_start
    """,
}

ORACLE["q_stream_linreg"] = _ML_ORACLE["q_linreg"]


def q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MERGE INTO the versioned table (round 11 — the
    op-resolution composition of q_stream_versioned: micro-batches
    arrive as RAW rows with no _op column and versioned.merge_into
    resolves them against current state inside foreachBatch, with
    TAGGED idempotent commits).  Seed v1 = even keys; batch 1 merges
    keys ≡0 (mod 3) at o_custkey+2e5 with delete-condition ≡0 (mod 12);
    batch 2 merges keys ≡0 (mod 5) at o_custkey+4e5 with delete-
    condition ≡0 (mod 20).  The sequence exercises every MERGE edge in
    a stream: matched updates, unmatched inserts, matched deletes, and
    UNMATCHED delete-slice rows (keys ≡0 mod 60 — tombstoned at batch 1,
    so batch 2's delete of them must DROP, not commit a phantom).  The
    oracle derives the final membership/payload set-theoretically:
    membership = (even ∪ ≡0 mod 3 ∪ ≡0 mod 5) minus (≡0 mod 12 ∪ ≡0
    mod 20); payload precedence batch2 > batch1 > seed.  Per batch:
    one as-of fold + one key-only membership join + an O(batch) commit
    — the streaming upsert shape that needs no lakehouse dependency."""
    import tempfile

    from fossa_spark import versioned as V

    o = load(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_custkey", "o_orderstatus")
    k = F.col("o_orderkey")

    tbl = os.path.join(tempfile.mkdtemp(prefix="fossa_smerge_"), "tbl")
    V.init_table(tbl, key=["o_orderkey"])
    V.commit(tbl, base.filter(k % 2 == 0).withColumn(V.OP_COL, F.lit(V.UPSERT)),
             expect_version=0)

    b1 = base.filter(k % 3 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + 200_000
    )
    b2 = base.filter(k % 5 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + 400_000
    )
    feed = tempfile.mkdtemp(prefix="fossa_smerge_feed_")

    w = _feed_writer(feed)
    w(b1, 1)
    w(b2, 2)

    dels = [k % 12 == 0, k % 20 == 0]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id >= len(dels):
            raise ValueError(
                f"q_stream_merge: unexpected micro-batch {batch_id} — "
                "the feed writes exactly two files"
            )
        V.merge_into(
            spark, tbl, batch_df,
            delete_condition=dels[batch_id], tag=f"mb{batch_id}",
        )

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(_apply)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        V.read_as_of(spark, tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["q_stream_merge"] = q_stream_merge
ORACLE["q_stream_merge"] = """
    WITH m AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 400000
                  WHEN o_orderkey % 3 = 0 THEN o_custkey + 200000
                  ELSE o_custkey END AS c,
             o_orderstatus AS s
      FROM orders
      WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0 OR o_orderkey % 5 = 0)
        AND o_orderkey % 12 <> 0 AND o_orderkey % 20 <> 0
    )
    SELECT s AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM m GROUP BY s ORDER BY s
"""
