"""Tier-3 streaming tests: drive real readStream→writeStream pipelines to
completion (availableNow + memory sink) and check batch parity — the
streaming twin must produce exactly the batch query's rows once all data is
ingested (watermark wide enough that nothing is dropped), and the
watermark must actually drop late rows when it's tight.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fossa_spark import streaming as FS
from fossa_spark.queries.streaming_queries import q_stream_session, q_stream_tumble
from fossa_spark.queries._util import load_events
from tests.conftest import SF_DIR


def _run_to_completion(sdf, name: str, output_mode: str = "append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _canon(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def test_events_stream_leaves_pinned_confs_alone(spark, monkeypatch):
    """events_stream writes its two session-wide confs only when they
    differ: concurrent Engine jobs share the session."""
    from pyspark.sql.conf import RuntimeConfig

    pinned = {"spark.sql.session.timeZone": "UTC",
              "spark.sql.legacy.parquet.nanosAsLong": "true"}
    for key, value in pinned.items():
        spark.conf.set(key, value)
    writes = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    FS.events_stream(spark, SF_DIR)
    FS.events_stream(spark, SF_DIR)
    assert not set(pinned) & set(writes), writes


def test_tumbling_batch_parity(spark):
    stream = FS.tumbling_agg(FS.events_stream(spark, SF_DIR), watermark="100 days")
    _run_to_completion(stream, "t_tumble", output_mode="complete")
    got = spark.sql("SELECT * FROM t_tumble")
    want = q_stream_tumble(spark, SF_DIR)
    assert _canon(got) == _canon(want)


def test_session_batch_parity(spark):
    stream = FS.session_agg(FS.events_stream(spark, SF_DIR), watermark="100 days")
    _run_to_completion(stream, "t_sess", output_mode="complete")
    got = spark.sql("SELECT * FROM t_sess")
    want = q_stream_session(spark, SF_DIR)
    assert _canon(got) == _canon(want)


def test_sliding_counts_total(spark):
    stream = FS.sliding_counts(FS.events_stream(spark, SF_DIR), watermark="100 days")
    _run_to_completion(stream, "t_slide", output_mode="complete")
    total = spark.sql("SELECT sum(n_events) AS s FROM t_slide").collect()[0].s
    n_events = load_events(spark, SF_DIR).count()
    assert total == 2 * n_events  # every event lands in exactly two windows


def test_stateful_dedup_stream(spark):
    stream = FS.stateful_dedup(FS.events_stream(spark, SF_DIR), watermark="100 days")
    _run_to_completion(stream, "t_dedup")
    got = spark.sql("SELECT count(*) AS n, count(distinct event_id) AS d FROM t_dedup").collect()[0]
    src = load_events(spark, SF_DIR)
    assert got.n == got.d == src.select("event_id").distinct().count()


def test_running_totals_stateful(spark):
    stream = FS.running_totals(FS.events_stream(spark, SF_DIR))
    _run_to_completion(stream, "t_state", output_mode="update")
    # last update per user == batch totals (exact integer cents)
    final = spark.sql(
        """
        SELECT user_id, max_by(n_events, n_events) AS n, max_by(total_cents, n_events) AS c
        FROM t_state GROUP BY user_id
        """
    )
    batch = (
        load_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
    )
    assert _canon(final) == _canon(batch)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Feed two files: current events, then very-late events. With a tight
    watermark the late rows must be dropped from the windowed aggregate."""
    base = pd.Timestamp("2024-06-01 10:00:00")
    on_time = pd.DataFrame(
        {
            "event_id": range(20),
            "ts": [base + pd.Timedelta(minutes=i) for i in range(20)],
            "user_id": [1] * 20,
            "event_type": ["click"] * 20,
            "value": [1.0] * 20,
            "props": ["{}"] * 20,
        }
    )
    late = on_time.copy()
    late["event_id"] = range(100, 120)
    late["ts"] = base - pd.Timedelta(hours=6)  # far behind the watermark
    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(on_time).write.mode("overwrite").parquet(str(src / "f1.parquet"))
    spark.createDataFrame(late).write.mode("overwrite").parquet(str(src / "f2.parquet"))

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_to_completion(agg, "t_late")
    counted = spark.sql("SELECT sum(n) AS s FROM t_late").collect()[0].s or 0
    # late file (20 rows) must not appear; on-time rows may still be in
    # unfinalized windows in append mode, so the ceiling is the real check
    assert counted <= 20


def test_exactly_once_foreach_batch_sink(spark, tmp_path):
    """Epoch-overwrite parquet sink: all source rows land exactly once, and
    restarting from the same checkpoint does not duplicate them."""
    from fossa_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = FS.events_stream(spark, SF_DIR)
        q = idempotent_parquet_sink(stream, out, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    n_src = load_events(spark, SF_DIR).count()
    first = spark.read.parquet(out)
    assert first.count() == n_src
    assert first.select("event_id").distinct().count() == n_src
    run_once()  # same checkpoint: no new offsets → no duplicates
    assert spark.read.parquet(out).count() == n_src


def test_stream_stream_interval_join_batch_parity(spark):
    """Click→purchase attribution: the stream-stream interval join must
    produce exactly the batch non-equi join's pairs."""
    from fossa_spark.streaming.joins import purchases_after_clicks

    stream_pairs = purchases_after_clicks(FS.events_stream(spark, SF_DIR))
    _run_to_completion(stream_pairs, "t_ssj")
    got = spark.sql("SELECT click_id, purchase_id FROM t_ssj")

    e = load_events(spark, SF_DIR)
    clicks = e.filter("event_type = 'click'").selectExpr(
        "user_id u", "ts cts", "event_id click_id"
    )
    buys = e.filter("event_type = 'purchase'").selectExpr(
        "user_id bu", "ts bts", "event_id purchase_id"
    )
    want = clicks.join(
        buys,
        (F.col("u") == F.col("bu"))
        & (F.col("bts") > F.col("cts"))
        & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 10 minutes")),
    ).select("click_id", "purchase_id")
    assert _canon(got) == _canon(want)
    assert want.count() > 0


def test_foreach_batch_sink_idempotent(spark, tmp_path):
    """foreachBatch parquet sink: per-batch overwrite directories make a
    batch replay idempotent — running the same bounded stream twice (same
    batch ids from a fresh checkpoint) yields the same rows, not doubles."""
    from fossa_spark.queries._util import load_events
    from fossa_spark.streaming.state import foreach_batch_parquet_sink
    from fossa_spark.streaming.windows import events_stream

    out = str(tmp_path / "sink")
    n_expected = load_events(spark, SF_DIR).count()
    for _ in range(2):  # second run replays the same single batch
        q = foreach_batch_parquet_sink(events_stream(spark, SF_DIR), out)
        q.awaitTermination()
    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    assert got.count() == n_expected
    assert got.select("event_id").distinct().count() == n_expected


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: a second availableNow run from the
    SAME checkpoint must process only files added since the first run —
    the committed offsets in the checkpoint fence off everything already
    processed."""
    import os

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    fixture = os.path.abspath(f"{SF_DIR}/events.parquet")
    os.symlink(fixture, src / "f1.parquet")
    schema = spark.read.parquet(str(src)).schema
    n_fixture = spark.read.parquet(fixture).count()

    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first_total = sum(n for _, n in seen)
    assert first_total == n_fixture

    os.symlink(fixture, src / "f2.parquet")  # new data arrives
    run_once()
    # second run saw ONLY f2 (n_fixture new rows), not f1 again
    assert sum(n for _, n in seen) == 2 * n_fixture
    batch_ids = [b for b, _ in seen]
    assert batch_ids == sorted(set(batch_ids)), "batch ids must advance"


def test_stream_kill_mid_run_resumes_without_loss(spark, tmp_path):
    """Crash recovery: a query KILLED between micro-batches (stop() after
    the first batch commits, with more files pending) must, on restart
    from the same checkpoint, process exactly the remainder — no lost and
    no re-delivered batch. This is the failure mode availableNow-to-
    completion tests never exercise."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    fixture = os.path.abspath(f"{SF_DIR}/events.parquet")
    for i in range(3):
        os.symlink(fixture, src / f"f{i}.parquet")
    schema = spark.read.parquet(fixture).schema
    n_fixture = spark.read.parquet(fixture).count()

    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while not seen and time.time() < deadline:
        time.sleep(0.05)
    q.stop()  # kill with ≥1 batch committed, ≤2 of 3 files consumed
    q.awaitTermination(60)
    n_first = len(seen)
    assert 1 <= n_first <= 3

    q = start()
    q.awaitTermination(120)
    # foreachBatch's exactly-once contract: a batch interrupted between
    # the callback and its commit REPLAYS under the SAME batch_id (the
    # sink must be idempotent on batch_id) — so assert per-distinct-id:
    # consecutive ids from 0, and their counts cover every row once.
    by_id: dict[int, int] = {}
    for b, n in seen:
        by_id[b] = n  # replay overwrites — the idempotent-sink semantics
    assert sorted(by_id) == list(range(len(by_id))), sorted(by_id)
    assert sum(by_id.values()) == 3 * n_fixture


def test_transform_with_state(spark):
    """transformWithState (Spark 4 typed-state API) parity with the batch
    per-user count/max — runs only where its protobuf dependency exists
    (the applyInPandasWithState twin, which has no such dependency, is the
    registered inventory query)."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from fossa_spark.queries._util import cents, load_events
    from fossa_spark.streaming.state import running_stats_tws
    from fossa_spark.streaming.windows import events_stream

    out = running_stats_tws(events_stream(spark, SF_DIR))
    q = (
        out.writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.n_events, r.max_cents)
        for r in spark.table("tws_test")
        .groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "max_cents"), "n_events").alias("f"))
        .select("user_id", "f.n_events", "f.max_cents")
        .collect()
    }
    want = {
        r.user_id: (r.n, r.mx)
        for r in load_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max(cents("value")).alias("mx"))
        .collect()
    }
    assert got == want


def test_stream_dedup_near_cross_batch(spark):
    """q_stream_dedup_near: every batch-2 planted re-emission of a batch-1
    text must be attributed (keep=false, jaccard 1.0) — possible only if
    the between-batch index append landed; novel docs carry no dup_of."""
    from fossa_spark.queries.streaming_queries import q_stream_dedup_near

    out = q_stream_dedup_near(spark, SF_DIR).collect()
    assert len(out) > 0
    planted = [r for r in out if r.doc_id >= 10_000_000]
    assert len(planted) == 5
    for r in planted:
        # every re-emission is attributed: to its batch-1 original at
        # jaccard 1.0 if that doc was novel (kept → appended), else to
        # the original's own corpus duplicate — never kept as new
        assert r.keep is False and r.dup_of is not None
        assert r.batch_id == 1  # arrived in the second micro-batch
    # at least one attribution must point at a batch-1 id (dup_of % 8 == 0
    # and % 4 == 0 → arrived in batch 1, not the corpus): the exact-copy
    # match at 1.0 that only the between-batch index append can produce
    assert any(
        r.dup_of % 8 == 0 and r.jaccard == 1.0 for r in planted
    ), planted
    # batch-1 rows exist and every kept row has no attribution
    assert any(r.batch_id == 0 for r in out)
    for r in out:
        assert r.keep == (r.dup_of is None)


def test_stream_ingest_base_plus_deltas_equals_rebuild(spark, tmp_path):
    """q_stream_ingest (round 9): the composed probe→keep-novel→append
    index+shards→delta loop must satisfy the audit identity — base shard
    manifest + every batch's delta == the manifest of a full rebuild over
    corpus + all arriving docs — and no planted duplicate (+10M corpus
    copies, +20M batch-1 re-emissions) may ever be placed."""
    from fossa_spark.llm import curation as C
    from fossa_spark.queries.streaming_queries import q_stream_ingest
    from fossa_spark.queries._util import load

    deltas = q_stream_ingest(spark, SF_DIR).collect()
    assert len(deltas) > 0
    assert {r.batch_id for r in deltas} == {0, 1}
    # planted dups are never novel, so no +10M/+20M id is ever placed
    assert all(r.max_doc < 10_000_000 for r in deltas)

    d = load(spark, SF_DIR, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    arriving = d.filter(F.col("doc_id") % 4 == 0)
    empty = spark.createDataFrame([], "doc_id long, component long")
    m_base = {
        r.shard: r
        for r in C.write_training_shards(
            corpus, empty, str(tmp_path / "base"), n_shards=16
        ).collect()
    }
    m_rebuild = {
        r.shard: r
        for r in C.write_training_shards(
            corpus.unionByName(arriving), empty, str(tmp_path / "rebuild"),
            n_shards=16,
        ).collect()
    }
    acc = {
        s: [m.n_docs, m.n_tokens, m.content_sum, m.min_doc, m.max_doc]
        for s, m in m_base.items()
    }
    for r in deltas:
        a = acc.setdefault(r.shard, [0, 0, 0, r.min_doc, r.max_doc])
        a[0] += r.n_docs
        a[1] += r.n_tokens
        a[2] += r.content_sum
        a[3] = min(a[3], r.min_doc)
        a[4] = max(a[4], r.max_doc)
    got = {
        s: (a[0], a[1], a[2], a[3], a[4]) for s, a in acc.items()
    }
    want = {
        s: (m.n_docs, m.n_tokens, m.content_sum, m.min_doc, m.max_doc)
        for s, m in m_rebuild.items()
    }
    assert got == want


def test_stream_ingest_restart_resume(spark, tmp_path):
    """The ingest loop must survive a REAL stop/restart (round 9 exit
    note): run 1 processes the day-1 file against a persistent
    checkpointLocation and stops; day 2's file arrives; run 2 restarts
    from the same checkpoint and must process ONLY the new file — no
    re-probe, no double-append — and the final state must equal what a
    single uninterrupted run produces: planted day-2 re-emissions of
    day-1 docs attribute as dups, and base + both deltas == rebuild."""
    import os

    from fossa_spark.llm import curation as C
    from fossa_spark.llm import dedup as D
    from fossa_spark.queries._util import load
    from fossa_spark.queries.streaming_queries import _feed_writer

    d = load(spark, SF_DIR, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    arriving = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    b1 = arriving.filter(F.col("doc_id") % 8 == 0)
    b2 = arriving.filter(F.col("doc_id") % 8 != 0)
    replayed = b1.orderBy("doc_id").limit(3).select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text"
    )

    table = "t_restart_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    D.build_exact_index(corpus, spark, table, str(tmp_path / "idx"))
    shard_dir = str(tmp_path / "shards")
    empty = spark.createDataFrame([], "doc_id long, component long")
    C.write_training_shards(corpus, empty, shard_dir, n_shards=4)

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    w = _feed_writer(feed)
    deltas: list = []
    probed_batches: list[int] = []

    def _process(batch_df, batch_id):
        spark_b = batch_df.sparkSession
        spark_b.catalog.refreshTable(table)
        probed_batches.append(int(batch_id))
        res = D.incremental_exact_dedup(batch_df, spark_b, table)
        res = res.localCheckpoint(eager=True)
        novel = batch_df.join(
            res.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=True)
        delta = C.append_to_shards(
            novel, res, shard_dir, n_shards=4, batch_tag=f"b{batch_id}"
        )
        D.append_to_exact_index(novel, spark_b, table)
        delta.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    def _run_once():
        q = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(_process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: only day-1 exists; process it and STOP
    w(b1, 1)
    _run_once()
    assert probed_batches == [0]
    # day 2 lands while the job is down, then the job restarts from the
    # SAME checkpoint: only the new file may be processed
    w(b2.unionByName(replayed), 2)
    _run_once()
    assert probed_batches == [0, 1]

    # every replayed doc attributed (not re-placed): the +20M ids appear
    # in NO shard partition
    all_rows = spark.read.parquet(shard_dir)
    assert all_rows.filter(F.col("doc_id") >= 20_000_000).count() == 0

    # base + both deltas == full rebuild (the audit identity across the
    # restart boundary)
    got = {
        r.shard: (r.n_docs, r.n_tokens, r.content_sum)
        for r in C.shard_manifest(spark, shard_dir).collect()
    }
    rebuild_dir = str(tmp_path / "rebuild")
    # novel = every %4==0 doc (the plants are dups of day-1 docs), so
    # corpus + all novels is exactly the whole documents table
    C.write_training_shards(d, empty, rebuild_dir, n_shards=4)
    want = {
        r.shard: (r.n_docs, r.n_tokens, r.content_sum)
        for r in C.shard_manifest(spark, rebuild_dir).collect()
    }
    assert got == want
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_span_cross_batch(spark):
    """q_stream_dedup_span: batch-2 re-emissions (+10M ids) of batch-1
    documents must surface as full-length spans against their batch-1
    originals — possible only if the batch-1 anchor append landed AND
    the batch-2 probe read it.  Batch-1 rows only ever match the base
    slice (nothing earlier exists)."""
    from fossa_spark.queries.streaming_queries import q_stream_dedup_span

    out = q_stream_dedup_span(spark, SF_DIR).collect()
    assert len(out) > 0
    planted = [r for r in out if r.new_id >= 10_000_000]
    # every planted row that matched its original did so in batch 2,
    # against a batch-1 id, starting at token 1 with the doc's full
    # length (an exact copy shares one maximal full-doc span)
    for r in planted:
        assert r.batch_id == 1
        assert r.old_id % 8 == 3 and r.old_id < 10_000_000
        assert r.start_new == 1 and r.start_old == 1
    # at least one planted doc is long enough to span (fixture docs
    # average ~50 tokens; 3 are planted)
    assert planted, out
    # batch-1 matches (if any) are against the base slice only
    for r in out:
        if r.batch_id == 0:
            assert r.old_id % 4 != 3
