"""Shared helpers for the declared query inventory (SURVEY.md §2c).

Determinism contract with the DuckDB oracle
-------------------------------------------
The driver hash-compares values, so every aggregate over doubles must be
bit-identical between Spark and DuckDB regardless of row order. Floating
sums are NOT associative, so we never hash a raw ``SUM(double)``. The money
columns in the fixtures are exact 2-decimal values, so we aggregate in
integer cents: ``CAST(ROUND(x * 100) AS BIGINT)`` per row (deterministic:
the per-row double math is identical IEEE ops in both engines and the result
is within 1e-9 of an integer), sum exactly in int64, then perform ONE double
division at the end — identical in both engines, order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fossa_spark.connect import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def pin_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf only when its current value differs: the conf is
    session-wide, shared by every concurrent Engine job on the session."""
    if spark.conf.get(key, None) != value:
        spark.conf.set(key, value)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet → columnar scan with pushdown; the
    file's schema is inferred once (``connect.read_parquet``).

    Pins the session timezone to UTC (runtime-settable): the DuckDB oracle
    is timezone-naive/UTC, and unix_timestamp()/collection semantics follow
    the session TZ — a caller's vanilla session may not set it."""
    pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with its ns-precision timestamp truncated to Spark's µs.

    The fixture stores TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as int64
    nanoseconds. Truncating integer-divide to µs matches DuckDB's
    ``CAST(ts AS TIMESTAMP)`` (ns → µs truncation), so oracle SQL should
    always wrap ``ts`` that way.
    """
    # The driver harness builds its own SparkSession, so this conf cannot be
    # assumed from fossa_spark.session — set it here (runtime-settable).
    pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    e = load(spark, sf_dir, "events")
    dt = dict(e.dtypes)["ts"]
    if dt in ("bigint", "long"):
        # integer `div`, not `/`: double division loses ulps on int64 ns
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt != "timestamp":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet arrives as
        # TIMESTAMP_NTZ; with the session TZ pinned UTC (load() above) the
        # cast reinterprets the same wall-clock as the same epoch µs the
        # ns-fixture path produced — and unix_micros()/watermarks need
        # TimestampType, not NTZ.
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Guarantee a COMPUTE-HEAVY narrow pipeline at least one task per
    core — adaptively, so it costs nothing at real scale.

    Parquet splits at row-group granularity: the test fixtures are
    single-row-group files, so a scan yields 1 partition and a per-doc
    CPU-bound stage (rolling hashes, regex scans, sketch updates) runs
    on 1 of 32 cores — measured 27 s for q_dedup_substring at sf1 with
    31 cores idle.  At corpus scale the scan produces thousands of
    splits and this helper is a NO-OP (partitions ≥ parallelism ⇒ no
    shuffle), so the one-pass text shuffle is only ever paid when it
    buys idle cores.  Only for expensive per-row compute — cheap narrow
    queries keep their 0-Exchange plans.  (A round-8 experiment capping
    the width for batch-sized relations was measured wall-neutral on the
    ANN funnel and dropped — see q_sim_pca_ivf's negative-result note.)"""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact integer representation of a fixed-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * float(10**scale)).cast("bigint")


def uncents(col: Column, scale: int = 2) -> Column:
    """One deterministic double division back to the decimal value."""
    return (col.cast("double") / float(10**scale)).alias("_")


def sql_cents(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of :func:`cents`."""
    return f"CAST(ROUND(({expr}) * {float(10 ** scale)}) AS BIGINT)"
