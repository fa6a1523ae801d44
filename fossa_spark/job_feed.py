"""External job-feed intake (C2): a streaming consumer that turns a durable
spec feed into Engine.submit() calls.

The reference continuously consumes job specs from a shared durable queue so
any node can pull work (reference lib/fossa/control/rabbit_mq/
message_exchange.py:35-152). Spark-native re-expression: the durable feed is
a DIRECTORY of JSON-lines spec files (the file-source contract any
distributed filesystem provides — S3/HDFS drop-zone), consumed by a
Structured Streaming file source whose checkpoint is the delivery ledger,
with a driver-side ``foreachBatch`` feeding the Engine. Job specs are
control-plane data (bytes, not rows), so the per-batch ``collect()`` is
correct here — the data plane never passes through this path.

Delivery semantics — at-least-once, like the reference's acked queue
(message_exchange.py:121-140 notes a message is "in limbo" between delivery
and ack): a crash between submitting a batch's jobs and committing the
checkpoint replays the batch. Redeliveries are absorbed by task_id — the
Engine rejects a spec whose task_id it already knows, atomically with its
admission — so supplying task_ids in specs upgrades the pipeline to
effectively-once. The Engine remembers only its last ``KEEP_FINISHED``
finished jobs, so a redelivery is absorbed while fewer than
``KEEP_FINISHED`` jobs have finished since the first delivery; after that
the id is unknown again and the job runs a second time. Poison specs (bad JSON, missing model_class) are logged
and dropped; allowlist rejections (InvalidTaskSpec) likewise — a bad spec
must not wedge the feed. Capacity exhaustion (a shut-down Engine included), by contrast, FAILS
the batch so the checkpoint does not commit and the batch retries: back-pressure
propagates to the feed instead of dropping work (the reference's broker
prefetch limit plays this role).
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from fossa_spark.engine import Engine, InvalidTaskSpec, parse_job

logger = logging.getLogger("fossa_spark")


class JobFeed:
    """Tail ``spec_dir`` for JSON-lines job specs and submit each to the
    Engine. One spec per line, parsed by ``engine.parse_job`` exactly as
    the HTTP intake parses its document."""

    def __init__(
        self,
        engine: Engine,
        spec_dir: str,
        checkpoint_dir: str,
        block_timeout: float = 60.0,
    ):
        self.engine = engine
        self.spec_dir = spec_dir
        self.checkpoint_dir = checkpoint_dir
        self.block_timeout = block_timeout
        self._query = None

    def _submit_batch(self, batch: DataFrame, epoch_id: int) -> None:
        for row in batch.collect():  # control-plane only; specs are tiny
            try:
                job = parse_job(row.value)
            except ValueError as e:
                logger.warning("job feed: dropping spec (%s): %.80s", e, row.value)
                continue
            try:
                self.engine.submit(job, block_if_full=True,
                                   timeout=self.block_timeout)
            except InvalidTaskSpec as e:
                # unregistered class, or a task_id the Engine already
                # knows: at-least-once redelivery is absorbed here
                logger.warning("job feed: rejected spec (%s)", e)
            # CapacityExceeded intentionally NOT caught: fail the batch →
            # checkpoint not committed → redelivery = back-pressure.

    def _stream(self, spark: SparkSession) -> Any:
        return (
            spark.readStream.format("text")
            .load(self.spec_dir)
            .writeStream.foreachBatch(self._submit_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )

    def start(self, spark: SparkSession | None = None,
              processing_interval: str = "1 second"):
        """Continuous intake; returns the StreamingQuery."""
        spark = spark or self.engine.spark
        self._query = (
            self._stream(spark).trigger(processingTime=processing_interval).start()
        )
        return self._query

    def drain_available(self, spark: SparkSession | None = None) -> None:
        """Consume every spec currently in the feed, then stop
        (Trigger.AvailableNow) — the batch-drain mode tests and catch-up
        restarts use. Checkpoint still advances, so a later start() resumes
        after these files."""
        spark = spark or self.engine.spark
        q = self._stream(spark).trigger(availableNow=True).start()
        q.awaitTermination()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None
