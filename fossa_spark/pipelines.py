"""End-to-end training-data pipeline: the showcase composition a user of
the reference engine would migrate to.

One Model wires the LLM operators into the standard pretraining-data flow:

    read documents
      → quality features + filters (length / punctuation / stopword gates)
      → language ID + allowlist
      → exact dedup (one groupBy on the normalized text keeps its min-id row)
      → near-dedup (MinHash-LSH pairs verified from per-doc shingle-hash
        arrays → connected components, min id of each kept)
      → token counting
      → partitioned parquet write (by predicted lang)

Every stage is a DataFrame transform, and a build runs two actions: the
verified near-duplicate pairs (small) are collected once to label the
components, and the write runs the rest. The exact-deduplicated rows and
their per-doc shingle-hash arrays are cached between the two and released
after the write; the components come back as a local relation, so the
write's anti-join is a broadcast, and a rebalance on the language sizes
the written files. At 100 TB each stage scales independently: the
quality gates are embarrassingly parallel, dedup is bounded by LSH
banding, and the write partitions by a low-cardinality key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fossa_spark.connect import Connect, AccessMode
from fossa_spark.llm import dedup as D
from fossa_spark.llm import text as X
from fossa_spark.model import Model


class TrainingDataPipeline(Model):
    """Filter → dedup → annotate → write. Construction kwargs:
    ``source_url`` / ``output_url`` (engine URLs, resolver-templated),
    plus optional gates (min_chars, max_punct_ratio, langs)."""

    def __init__(self, spark=None, source_url: str = "parquet://{data}/documents.parquet",
                 output_url: str = "parquet://{out}/clean_docs",
                 min_chars: int = 100, max_punct_ratio: float = 0.3,
                 langs: tuple[str, ...] = ("en", "de", "fr", "es", "zh"),
                 near_dedup_threshold: float = 0.5, **kw):
        super().__init__(spark=spark, **kw)
        self.source = Connect(engine_url=source_url)
        self.sink = Connect(engine_url=output_url, access=AccessMode.WRITE)
        self.min_chars = min_chars
        self.max_punct_ratio = max_punct_ratio
        self.langs = langs
        self.near_dedup_threshold = near_dedup_threshold
        self.stats: dict[str, int] = {}
        self._persisted: list[DataFrame] = []

    def transform(self, docs: DataFrame) -> DataFrame:
        """The cleaned rows, write excluded (unit-testable). Collects the
        verified near-duplicate pairs; the relations it caches stay cached
        until :meth:`release` (``build`` calls it after the write)."""
        # adaptive parallelism guard (queries._util.spread rationale):
        # quality_features' stopword HOF is interpreted per-row CPU — on
        # a few-row-group parquet scan it would run on 1-3 of 32 cores
        # (sf10 smoke caught exactly this); at corpus scale the scan has
        # ≥ cores splits and this is a no-op
        n = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < n:
            docs = docs.repartition(n)
        feats = X.quality_features(docs)
        gated = feats.filter(
            (F.col("n_chars_m") >= self.min_chars)
            & (F.col("punct_ratio") <= self.max_punct_ratio)
        )
        scored = X.language_scores(gated)
        allowed = scored.filter(F.col("pred_lang").isin(*self.langs))

        # exact dedup in ONE aggregation: each normalized text keeps its
        # whole min-doc_id row, so `allowed` is scanned once. `exact` feeds
        # the near-dedup stage AND the write — persist it instead of
        # recomputing the whole upstream per consumer (at 100 TB: a
        # materialized staging table between pipeline phases); build()
        # releases it after the write.
        exact = (
            allowed.groupBy(D.normalize("text").alias("_norm"))
            .agg(F.min_by(F.struct(*allowed.columns), "doc_id").alias("_row"))
            .select("_row.*")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._persisted.append(exact)

        # near-dedup: connected components over the verified pair graph,
        # keep the minimum id of each component (handles duplicate CHAINS
        # A≈B≈C where pairwise dropping could keep both endpoints). The
        # LSH plan reads the per-doc shingle-hash arrays three times
        # (signatures and both verify sides); adaptive execution reuses no
        # Exchange above a cached scan, so the arrays themselves are
        # cached: one Arrow shingle pass and one shuffle on doc_id, and
        # the reads of the exploded view below regroup them on their own
        # partitioning without another shuffle. The components come back
        # as a small local relation, so the anti-join below is a broadcast
        # inside the write's plan.
        sets = D.shingle_sets(D.shingle_hash_rows(exact)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._persisted.append(sets)
        pairs = D.minhash_lsh_dedup(
            exact, threshold=self.near_dedup_threshold,
            sh_rows=sets.select("doc_id", F.explode("_shs").alias("_sh")),
        )
        comps = D.connected_components(pairs)
        drop = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        clean = exact.join(drop, "doc_id", "left_anti")

        return clean.select(
            "doc_id",
            "text",
            "source",
            F.col("pred_lang").alias("lang"),
            F.col("n_chars_m").alias("n_chars"),
            X.token_count_ws("text").alias("n_tokens_ws"),
            X.token_count_regex("text").alias("n_tokens"),
            X.fingerprint("text").alias("fingerprint"),
        )

    def build(self) -> dict[str, int]:
        from pyspark.sql import Observation

        docs = self.source.read(self.spark)
        # Observation metrics ride passes the build makes anyway: docs_in
        # is counted where the source flows INTO the plan and docs_out
        # where rows reach the sink — no second source scan, no output
        # re-read (at 100 TB each would be a full extra pass).
        # The rebalance on lang lets adaptive execution size the written
        # files: small partitions merge and a skewed language splits (the
        # broadcast anti-join alone would write exact's partitioning,
        # one file per partition and language).
        obs_in, obs_out = Observation("docs_in"), Observation("docs_out")
        try:
            out = self.transform(
                docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
            ).observe(obs_out, F.count(F.lit(1)).alias("n"))
            self.sink.write(out.hint("rebalance", "lang"), partition_by=["lang"])
        finally:
            self.release()
        n_in = int(obs_in.get["n"])
        n_out = int(obs_out.get["n"])
        self.stats = {"docs_in": n_in, "docs_out": n_out,
                      "dropped": n_in - n_out}
        self.log(f"pipeline: {self.stats}")
        return self.stats

    def release(self) -> None:
        """Unpersist every relation ``transform`` cached."""
        while self._persisted:
            self._persisted.pop().unpersist()
