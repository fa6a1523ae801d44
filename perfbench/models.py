"""The Models the benchmark submits through ``fossa_spark.engine.Engine``.

Each layer is timed from outside, around calls into its public functions:
the spans below wrap calls into ``fossa_spark.queries``, ``llm.similarity``,
``connect``, ``pipelines``, ``llm.text``, ``llm.dedup`` and ``model``.  The
tracer arrives as a construction kwarg; an untraced run passes a disabled
one.

``FanoutModel`` is shipped to executors by value (TaskParallelStrategy
registers this module with cloudpickle), so its subtask body refers to
nothing from this package: executors can import ``fossa_spark`` but not
the benchmark.
"""

from __future__ import annotations

import inspect
import os
import time

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fossa_spark import connect
from fossa_spark.connect import AccessMode, Connect, MultiConnect
from fossa_spark.llm import dedup as D
from fossa_spark.llm import similarity as S
from fossa_spark.llm import text as X
from fossa_spark.model import Model, PartitionedModel, TaskParallelStrategy
from fossa_spark.pipelines import TrainingDataPipeline


class Probe(Model):
    """Every set-up's first job: one SQL aggregate and one map over the
    executors' Python workers, so both have run a task."""

    EXPECTED = (499500, 499500)

    def build(self):
        n = self.spark.sparkContext.defaultParallelism
        sql = self.spark.range(1000).selectExpr("sum(id)").collect()[0][0]
        py = self.spark.sparkContext.parallelize(range(1000), n).map(abs).sum()
        return sql, py


class RelationalQuery(Model):
    """Runs one ``fossa_spark.queries`` function and returns its small
    result as (columns, rows) for the hash check."""

    def __init__(self, spark=None, tracer=None, query_fn=None, **kw):
        super().__init__(spark=spark, **kw)
        self.tracer, self.query_fn = tracer, query_fn

    def build(self):
        data = connect.connector_resolver.resolve("{data}")
        with self.tracer.span("queries.build"):
            df = self.query_fn(self.spark, data)
        with self.tracer.span("queries.exec"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows


class SimilarityTopK(Model):
    """Exact cosine top-k of a few query vectors against the embeddings."""

    def __init__(self, spark=None, tracer=None, q_ids=(), k=5, **kw):
        super().__init__(spark=spark, **kw)
        self.tracer, self.q_ids, self.k = tracer, list(q_ids), k

    def build(self):
        e = Connect(engine_url="parquet://{data}/embeddings.parquet").read(self.spark)
        q = e.filter(F.col("vec_id").isin(self.q_ids)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
        with self.tracer.span("llm.similarity.topk"):
            rows = S.brute_force_topk(q, c, k=self.k).collect()
        return [[r.q_id, r.c_id, r.score, r.rk] for r in rows]


class PartitionedWrite(Model):
    """Reads a table and writes it as parquet partitioned by one column to a
    resolver-templated path; returns the path for the read-back check."""

    def __init__(self, spark=None, tracer=None, table="", key="", **kw):
        super().__init__(spark=spark, **kw)
        self.tracer, self.table, self.key = tracer, table, key
        self.source = Connect(engine_url=f"parquet://{{data}}/{table}.parquet")
        self.sink = Connect(engine_url=f"parquet://{{out}}/{{job}}/{table}_by_{key}",
                            access=AccessMode.WRITE)

    def build(self) -> str:
        df = self.source.read(self.spark)
        with self.tracer.span("connect.write"):
            self.sink.write(df, partition_by=[self.key])
        return self.sink.resolved().path


class TracedPipeline(TrainingDataPipeline):
    """TrainingDataPipeline for the traced run.  The program's own
    ``build`` runs first, timed whole (``pipelines.transform``: the lazy
    transform and the write that executes it), and its output is the one
    the benchmark checks.  Then each stage ``transform`` composes is
    re-run on a persisted input, with the same repartitioning guard, and
    forced, so its span holds only that stage; the final partitioned
    write is timed on the persisted result, to a separate path."""

    # near-dedup settings, read from the library so the candidate count
    # follows minhash_lsh_dedup if its defaults change
    _LSH = {k: p.default for k, p in
            inspect.signature(D.minhash_lsh_dedup).parameters.items()
            if k in ("k", "num_hashes", "bands")}

    def __init__(self, spark=None, tracer=None, **kw):
        super().__init__(spark=spark, **kw)
        self.tracer = tracer
        self.staged_sink = Connect(engine_url="parquet://{out}/{job}/staged_clean_docs",
                                   access=AccessMode.WRITE)

    def _forced(self, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    def build(self) -> dict[str, int]:
        tr = self.tracer
        with tr.span("pipelines.transform"):
            stats = super().build()

        docs = self.source.read(self.spark)
        n = self.spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < n:
            docs = docs.repartition(n)
        docs = self._forced(docs)
        with tr.span("llm.text.quality_features"):
            gated = self._forced(X.quality_features(docs).filter(
                (F.col("n_chars_m") >= self.min_chars)
                & (F.col("punct_ratio") <= self.max_punct_ratio)))
        with tr.span("llm.text.language_scores"):
            allowed = self._forced(X.language_scores(gated).filter(
                F.col("pred_lang").isin(*self.langs)))
        with tr.span("llm.dedup.exact"):
            keep = (allowed.select("doc_id", D.normalize("text").alias("_norm"))
                    .groupBy("_norm").agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
            exact = self._forced(allowed.join(keep, "doc_id", "left_semi"))
        with tr.span("llm.dedup.minhash_lsh"):
            pairs = D.minhash_lsh_dedup(exact, threshold=self.near_dedup_threshold)
            verified = pairs.count()
        with tr.span("llm.dedup.connected_components"):
            comps = D.connected_components(pairs).persist()
            comps.count()
        # candidate count for pair precision: the same shingles, signatures
        # and banding minhash_lsh_dedup uses, counted before verification
        lsh = self._LSH
        sh = D.shingle_hash_rows(exact, k=lsh["k"]).groupBy("doc_id").agg(
            F.collect_list("_sh").alias("shingles"))
        sigs = D.minhash_signatures(sh, num_hashes=lsh["num_hashes"])
        candidates = D.lsh_candidates(sigs, bands=lsh["bands"],
                                      rows_per_band=lsh["num_hashes"] // lsh["bands"]).count()
        tr.count("llm.dedup.candidate_pairs", candidates)
        tr.count("llm.dedup.verified_pairs", verified)

        drop = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        clean = self._forced(exact.join(drop, "doc_id", "left_anti").select(
            "doc_id", "text", "source", F.col("pred_lang").alias("lang"),
            F.col("n_chars_m").alias("n_chars"),
            X.token_count_ws("text").alias("n_tokens_ws"),
            X.token_count_regex("text").alias("n_tokens"),
            X.fingerprint("text").alias("fingerprint")))
        with tr.span("connect.write"):
            self.staged_sink.write(clean, partition_by=["lang"])
        return stats


class FanoutModel(PartitionedModel):
    """Hundreds of small CPU-bound subtasks, each writing its own
    ``{subtask_id}_results.csv``; planned subtasks fail on their first
    attempt only (a marker file records the attempt), so the retry path
    runs.  Runs through the default TaskParallelStrategy."""

    def __init__(self, spark=None, tracer=None, plan=(), **kw):
        super().__init__(spark=spark, **kw)
        self.tracer, self.plan = tracer, plan
        self.total = 0

    def partition_slice(self, partition_count):
        with self.tracer.span("model.partition_slice"):
            results = MultiConnect(template="csv://{out}/{job}/results/{subtask_id}_results.csv")
            markers = connect.connector_resolver.resolve("{out}/{job}/markers")
            os.makedirs(markers, exist_ok=True)
            os.makedirs(connect.connector_resolver.resolve("{out}/{job}/results"), exist_ok=True)
            return [("work", {"sid": sid, "n": n, "fail_first": fail,
                              "path": results.new_dataset(subtask_id=str(sid)).resolved().path,
                              "marker": f"{markers}/{sid}"})
                    for sid, n, fail in self.plan]

    def work(self, sid: int, n: int, fail_first: int, path: str, marker: str) -> dict:
        t0 = time.perf_counter()
        if fail_first and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError(f"planned first-attempt failure of subtask {sid}")
        total = 0
        for j in range(n):
            total += j * j
        t1 = time.perf_counter()
        body = f"subtask_id,n,sum\n{sid},{n},{total}\n"
        with open(path, "w") as fh:
            fh.write(body)
        return {"sid": sid, "sum": total, "work_s": t1 - t0,
                "write_s": time.perf_counter() - t1, "bytes": len(body)}

    def partition_subtask_complete(self, method_name, kwargs, return_value):
        with self.tracer.span("model.complete_hook"):
            self.total += return_value["sum"]


class TimedTaskParallel(TaskParallelStrategy):
    """TaskParallelStrategy with its dispatch-and-gather timed and its
    attempts counted (traced run only)."""

    def run(self, model, subtasks, processes):
        tr = model.tracer
        with tr.span("model.strategy_run"):
            results = list(super().run(model, subtasks, processes))
        tr.count("model.subtask_attempts", len(results))
        tr.count("model.subtask_ok", sum(1 for r in results if r["ok"]))
        # executor-side durations, measured by the subtask body itself
        for r in results:
            if r["ok"]:
                v = r["value"]
                tr.count("model.subtask_work_s", v["work_s"])
                tr.count("connect.subtask_write_s", v["write_s"])
                tr.count("connect.files_written", 1)
                tr.count("connect.bytes_written", v["bytes"])
        yield from results


class TracedFanout(FanoutModel):
    strategy_cls = TimedTaskParallel
