"""Event-time windowed aggregation for streams.

Watermarks bound state: at 100 TB/day the window state store only retains
windows newer than (max event time − watermark); everything older is
finalized and evicted. The transformations are identical to their batch
twins in fossa_spark.queries.streaming_queries — same window()/
session_window() expressions — which is what makes batch-parity testing
possible (tests/test_streaming.py runs both and diffs).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fossa_spark.connect import read_parquet
from fossa_spark.queries._util import cents, pin_conf

def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (one file per trigger →
    deterministic availableNow runs). The fixture's ts physical type has
    varied between driver generations (TIMESTAMP(NANOS) → int64 ns under
    nanosAsLong; TIMESTAMP(MICROS) → TIMESTAMP_NTZ), so probe the batch
    footer for the real schema and normalize to TimestampType exactly like
    the batch loader (queries/_util.load_events)."""
    pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    # The file source needs a DIRECTORY; expose the single fixture file
    # through a scratch dir of symlinks (testdata itself is read-only).
    # Path must be STABLE per sf_dir: streaming checkpoints record the
    # source path, and a restart from checkpoint must resolve the same one.
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    src_dir = os.path.join(tempfile.gettempdir(), f"fossa_events_stream_{tag}")
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    # lexists catches a dangling symlink (fixture moved/deleted) that plain
    # exists() would miss — repair it, then create; concurrent sessions may
    # race the creation so tolerate FileExistsError
    if os.path.lexists(link) and not os.path.exists(link):
        try:
            os.remove(link)
        except FileNotFoundError:
            pass
    if not os.path.lexists(link):
        try:
            os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
        except FileExistsError:
            pass
    # readStream requires an explicit schema; it must match the file's
    # actual layout, so take it from the file's footer (nanosAsLong, set
    # above, is part of the remembered schema's key).
    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        # int64 ns — integer `div`, not `/` (doubles lose ulps on int64)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # TIMESTAMP_NTZ (or already TIMESTAMP): session TZ is UTC, so the cast
    # yields the same epoch µs as the ns path did.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_agg(events: DataFrame, width: str = "10 minutes",
                 watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
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
    )


def sliding_counts(events: DataFrame, width: str = "10 minutes",
                   slide: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )


def session_agg(events: DataFrame, gap: str = "5 minutes",
                watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
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
    )


def stateful_dedup(events: DataFrame, key: str = "event_id",
                   watermark: str = "30 minutes") -> DataFrame:
    """Streaming exactly-once-per-key dedup with BOUNDED state: uses
    dropDuplicatesWithinWatermark, which evicts a seen key once the
    watermark passes it. (Plain ``dropDuplicates([key])`` without the
    event-time column in the subset keeps state forever — the unbounded-
    state trap this wrapper exists to avoid.)"""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])
