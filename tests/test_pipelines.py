"""End-to-end pipeline test: the full filter→dedup→annotate→write flow
run as an Engine job over the fixture corpus, with invariants on the output."""

from __future__ import annotations

import pytest

from fossa_spark.connect import connector_resolver
from fossa_spark.engine import Engine, Job, JobStatus
from fossa_spark.pipelines import TrainingDataPipeline
from tests.conftest import SF_DIR


def test_pipeline_end_to_end(spark, tmp_path):
    eng = Engine(spark, max_concurrent_tasks=2)
    eng.register_model(TrainingDataPipeline)
    tid = eng.submit(
        Job(
            model_class="TrainingDataPipeline",
            resolver_context={"data": SF_DIR, "out": str(tmp_path)},
        )
    )
    res = eng.wait(tid)
    assert res.status is JobStatus.COMPLETE, res.error
    stats = res.value
    assert stats["docs_in"] > 0
    assert 0 < stats["docs_out"] <= stats["docs_in"]
    assert stats["dropped"] > 0  # gates + near-dedup must drop something

    out = spark.read.parquet(f"{tmp_path}/clean_docs")
    rows = out.count()
    assert rows == stats["docs_out"]
    # dedup invariants: no duplicate ids, no duplicate fingerprints kept
    assert out.select("doc_id").distinct().count() == rows
    # annotations present and sane
    sample = out.limit(50).collect()
    assert all(r.n_tokens > 0 and r.n_chars >= 100 and len(r.fingerprint) == 32
               for r in sample)
    # partitioned layout by lang
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs and langs <= {"en", "de", "fr", "es", "zh"}
    eng.shutdown(wait=False)


def test_pipeline_transform_drops_near_dups(spark):
    """The ~25 planted near-dup pairs must be collapsed: of each verified
    pair, only the smaller doc_id survives."""
    from fossa_spark.llm.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = TrainingDataPipeline(spark=spark, min_chars=0, max_punct_ratio=1.0)
    with connector_resolver.context(data=SF_DIR, out="/tmp/unused"):
        cleaned = p.transform(docs)
        kept = {r.doc_id for r in cleaned.select("doc_id").collect()}
        p.release()
        pairs = minhash_lsh_dedup(docs, threshold=0.5).collect()
    assert pairs, "fixture should contain near-duplicates"
    for r in pairs:
        assert not (r.id_a in kept and r.id_b in kept), (
            f"near-dup pair ({r.id_a},{r.id_b}) both kept"
        )


def test_build_spark_jobs_bounded(spark, tmp_path):
    """One build() as an Engine job runs at most 17 Spark jobs, counted by
    the job's group: exact dedup in one aggregation, the LSH verify over
    cached per-doc arrays, the verified pairs collected once, then the
    rebalanced write. A second build runs at most 16: the source file's
    schema is remembered, so its read infers nothing. Counted as the suite
    runs (``SPARK_GRAFT_CPUS`` = nproc, 8 shuffle partitions); with more
    cores than shuffle partitions the shingle pass's parallelism guard adds
    one repartition stage."""
    eng = Engine(spark, max_concurrent_tasks=1)
    eng.register_model(TrainingDataPipeline)
    counts = []
    for run in ("cold", "warm"):
        tid = eng.submit(Job(model_class="TrainingDataPipeline", resolver_context={
            "data": SF_DIR, "out": str(tmp_path / run)}))
        res = eng.wait(tid)
        assert res.status is JobStatus.COMPLETE, res.error
        counts.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(tid)))
    eng.shutdown(wait=False)
    assert 0 < counts[0] <= 17 and 0 < counts[1] <= 16, counts


def test_build_releases_what_it_persists(spark, tmp_path):
    """build() unpersists every relation it cached, so no persisted RDD
    outlives it (and no later build silently reuses an earlier one's
    cached rows)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with connector_resolver.context(data=SF_DIR, out=str(tmp_path)):
        stats = TrainingDataPipeline(spark=spark).build()
    assert stats["docs_out"] > 0
    leaked = set(jsc.getPersistentRDDs().keys()) - before
    assert not leaked, leaked
