"""Table sources beyond plain files: bucketed tables for co-located joins.

Bucketing pre-shuffles data at WRITE time: both sides of a recurring join
are hash-partitioned into the same number of buckets on the join key, so
every subsequent join on that key skips its shuffle entirely — the
dominant cost of fact-fact joins at 100 TB, paid once instead of per query.
(The reference has no equivalent; its data plane re-reads CSV per run.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    path: str | None = None,
    sort_by: str | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sorted) table. ``sort_by``
    additionally sorts within buckets → sort-merge joins skip their sort."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — Catalyst reads
    the bucket layout from the catalog and plans the join with NO exchange
    on either side (verify with plans.audit: exchanges == 0)."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, key, how)


# ---------------------------------------------------------------------------
# Custom connector via the Python Data Source API (Spark 4): the Spark-native
# answer to the reference's open-ended engine-URL connector strings — a new
# scheme becomes a DataSource class, planned and read like any other source
# (schema, partition planning, parallel partition reads, pushdown-ready).
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class SyntheticDataSource(DataSource):
    """Deterministic synthetic-rows source (``fossa_synth``).

    Generates ``rows`` rows as (id, bucket, val_cents) where val_cents is a
    Knuth-hash of the id — pure integer arithmetic, so any engine can
    reproduce the table exactly (the DuckDB oracle regenerates it from
    range()). ``parts`` contiguous id ranges become Spark input partitions:
    the read is planned as ``parts`` parallel tasks, exactly how a real
    connector would split a cursor/scan."""

    @classmethod
    def name(cls) -> str:
        return "fossa_synth"

    def schema(self) -> str:
        return "id bigint, bucket bigint, val_cents bigint"

    def reader(self, schema) -> "SyntheticReader":  # noqa: ARG002
        return SyntheticReader(
            int(self.options.get("rows", "1000")),
            int(self.options.get("parts", "4")),
        )



class SyntheticReader(DataSourceReader):
    def __init__(self, rows: int, parts: int) -> None:
        self.rows = rows
        self.parts = parts

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition: InputPartition):
        lo = partition.value * self.rows // self.parts
        hi = (partition.value + 1) * self.rows // self.parts
        for i in range(lo, hi):
            yield (i, i % 16, (i * 2654435761) % 2147483647 % 100000)


def make_stream_source():
    """Factory for the STREAMING face of fossa_synth (Spark 4 Python Data
    Source streaming API): the same deterministic integer-hash table
    arrives in ``batch``-row micro-batches until ``rows`` is exhausted,
    then the source idles (empty batches). Offsets are plain dicts
    ({"i": next}); readBetweenOffsets replays any range exactly — the
    contract that makes restart/exactly-once possible for a custom source.

    The classes are FUNCTION-LOCAL on purpose: cloudpickle serializes
    local classes BY VALUE, so the driver-side python_streaming_source_
    runner worker can deserialize them without fossa_spark on its path —
    unlike executor task workers, that runner does not see
    addPyFile()-shipped modules, and a module-level class (pickled by
    reference) dies there with ModuleNotFoundError when the host app runs
    from an arbitrary cwd."""

    class SyntheticStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, rows: int, batch: int) -> None:
            self.rows = rows
            self.batch = batch

        def initialOffset(self) -> dict:
            return {"i": 0}

        def read(self, start: dict):
            lo = int(start["i"])
            hi = min(lo + self.batch, self.rows)
            return iter(self._rows(lo, hi)), {"i": hi}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter(self._rows(int(start["i"]), int(end["i"])))

        @staticmethod
        def _rows(lo: int, hi: int) -> list:
            # returned to the engine as iter(list): the prefetch cache both
            # copy.copy()s the iterator (generators aren't copyable) and
            # next()s it (bare lists aren't iterators) — a list_iterator is
            # the one shape that satisfies both
            return [
                (i, i % 16, (i * 2654435761) % 2147483647 % 100000)
                for i in range(lo, hi)
            ]

    class SyntheticStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "fossa_synth_stream"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val_cents bigint"

        def simpleStreamReader(self, schema):  # noqa: ARG002
            return SyntheticStreamReader(
                int(self.options.get("rows", "1000")),
                int(self.options.get("batch", "250")),
            )

    return SyntheticStreamSource


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_bytes`` files. Returns the output file count.

    The classic 100 TB operational chore — streaming sinks and
    over-parallel writers leave thousands of KB-sized files whose
    per-file open/footer cost dominates scans. Sizing comes from the
    source LISTING (no data read), and the rewrite uses coalesce(), not
    repartition(): compaction must not pay a shuffle, it only narrows the
    write parallelism. (Row-group-level clustering would use a sorted
    repartition — a different, shuffle-paying operator.)
    """
    import math

    # Hadoop FS listing (works for any scheme Spark can read, not just
    # file://) via the JVM — driver-side metadata only.
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    total = sum(
        f.getLen()
        for f in fs.listStatus(path)
        if f.getPath().getName().endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / target_bytes))
    (
        spark.read.parquet(src_dir)
        .coalesce(n_out)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    out_path = jvm.org.apache.hadoop.fs.Path(dst_dir)
    return sum(
        1
        for f in fs.listStatus(out_path)
        if f.getPath().getName().endswith(".parquet")
    )


def bucket_spec(spark: SparkSession, table: str) -> tuple[str, int, str | None, str]:
    """Introspect a bucketed catalog table's (bucket_col, n_buckets,
    sort_col, location) from DESCRIBE FORMATTED.  Raises if the table is
    not bucketed — the compaction below exists precisely to PRESERVE a
    bucket layout; plain directories go through :func:`compact_parquet`."""
    info = {r.col_name: r.data_type for r in
            spark.sql(f"DESCRIBE FORMATTED {table}").collect()}
    if "Num Buckets" not in info:
        raise ValueError(f"{table} is not a bucketed table")

    def _one(key: str) -> str | None:
        cols = info.get(key, "[]").strip("[]")
        return cols.strip("`") if cols else None

    bucket_col = _one("Bucket Columns")
    if bucket_col is None or "," in bucket_col:
        raise ValueError(
            f"{table}: expected exactly one bucket column, got "
            f"{info.get('Bucket Columns')!r}"
        )
    loc = info["Location"].removeprefix("file:")
    return bucket_col, int(info["Num Buckets"]), _one("Sort Columns"), loc


def _count_parquet_files(root: str) -> int:
    import os

    return sum(
        1
        for dirpath, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def compact_bucketed_table(spark: SparkSession, table: str) -> tuple[int, int]:
    """Rewrite a bucketed table to ONE file per bucket, in place, keeping
    the CLUSTERED BY layout and the catalog registration — the index-aware
    twin of :func:`compact_parquet` (r8 verdict: daily ``insertInto``
    appends add one file per append per bucket; at daily cadence over
    months that is the classic small-files decay, and plain compaction
    would destroy the bucket layout the zero-shuffle probes depend on).

    Mechanics: read the table, hash-repartition by the bucket column into
    ``n_buckets`` tasks (repartition and bucket assignment share Spark's
    Murmur3 ``hash(col) % n`` — each task holds exactly one bucket, so the
    bucketed write emits one file per bucket), write it as a TEMP bucketed
    table beside the original (same key/sort/bucket count), then swap the
    directories and re-register the original name with the same CLUSTERED
    BY DDL (an OS-level rename preserves bucket layout because Spark
    derives the bucket id from the file name).
    The swap window is not atomic for concurrent readers; run it like any
    maintenance job, during a quiet window or on a snapshot.

    Returns (files_before, files_after); files_after == n_buckets unless a
    bucket is empty.  Invariance (probe results and plans identical
    before/after) is pinned by tests/test_llm.py and the oracle-backed
    q_index_compact, which puts a compacted index under the hash-checked
    digest-join oracle.
    """
    import os
    import shutil
    import uuid

    key, buckets, sort_by, loc = bucket_spec(spark, table)
    files_before = _count_parquet_files(loc)
    tmp_table = f"{table}_compact_{uuid.uuid4().hex[:8]}"
    tmp_loc = f"{loc}_compacting_{uuid.uuid4().hex[:8]}"
    # Read the FILES, not the catalog table: over the bucketed table the
    # planner treats repartition(buckets, key) as redundant (the bucket
    # spec already "provides" that distribution), removes it, and THEN
    # disables the bucketed scan — leaving one output file per input
    # file, i.e. a no-op compaction.  A plain parquet read carries no
    # bucket metadata, so the repartition survives and each task holds
    # exactly one bucket (repartition and bucket assignment share
    # Murmur3 hash(key) % n).
    rows = spark.read.parquet(loc).repartition(buckets, F.col(key))
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in rows.schema.fields
    )
    write_bucketed(rows, tmp_table, key, buckets=buckets, path=tmp_loc,
                   sort_by=sort_by)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")  # files stay (EXTERNAL)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    old = f"{loc}_old_{uuid.uuid4().hex[:8]}"
    swapped = False
    try:
        # keep the original until the new dir is in place; whatever
        # happens between the DROP and the finally, the finally
        # re-registers the name over `loc` — a failed FIRST rename
        # leaves the original files at loc (re-registered unchanged),
        # a failed second rename rolls the originals back first
        os.rename(loc, old)
        try:
            os.rename(tmp_loc, loc)
            swapped = True
        except OSError:
            os.rename(old, loc)
            raise
    finally:
        sort = f"SORTED BY (`{sort_by}`) " if sort_by else ""
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{key}`) {sort}INTO {buckets} BUCKETS "
            f"LOCATION '{loc}'"
        )
        if not swapped:  # failed swap: the compacted tree is now orphaned
            shutil.rmtree(tmp_loc, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return files_before, _count_parquet_files(loc)


def _spread_bits16(col):
    """Interleave-ready bit spread: 16-bit int → 32-bit with zeros between
    bits (Morton/Z-curve encoding step). Pure JVM bitwise expressions."""
    from pyspark.sql import functions as F

    x = col.cast("bigint")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(df: DataFrame, col_a: str, col_b: str):
    """Morton (Z-curve) key over two columns, each min-max scaled to 16
    bits. Returns (df_with_scalars, key_column). The min/max scalars ride
    along as a 1-row broadcast — no driver collect."""
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(col_a).cast("double").alias("_mna"),
        F.max(col_a).cast("double").alias("_mxa"),
        F.min(col_b).cast("double").alias("_mnb"),
        F.max(col_b).cast("double").alias("_mxb"),
    )
    j = df.crossJoin(stats.hint("broadcast"))

    def scale(c, mn, mx):
        rng = F.when(F.col(mx) > F.col(mn), F.col(mx) - F.col(mn)).otherwise(
            F.lit(1.0)
        )
        return F.least(
            F.lit(65535),
            F.floor((F.col(c).cast("double") - F.col(mn)) / rng * 65536.0)
            .cast("bigint"),
        )

    key = _spread_bits16(scale(col_a, "_mna", "_mxa")).bitwiseOR(
        F.shiftleft(_spread_bits16(scale(col_b, "_mnb", "_mxb")), 1)
    )
    return j, key


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
) -> None:
    """Z-order clustered write: range-partition + sort rows by their Morton
    key over (col_a, col_b), so parquet min/max row-group stats become
    selective for BOTH dimensions at once.

    The layout operator a 100 TB lakehouse runs nightly: a table sorted on
    one column prunes scans filtered on that column only; Z-ordering makes
    a box filter on either (or both) of two dimensions skip most files.
    One range-shuffle at write time buys every subsequent scan's pruning
    (same pay-once economics as write_bucketed above). Columns are min-max
    scaled to 16 bits and bit-interleaved with pure JVM bitwise ops — no
    UDF in the write path."""
    j, key = zorder_key(df, col_a, col_b)
    (
        j.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey", "_mna", "_mxa", "_mnb", "_mxb")
        .write.mode("overwrite")
        .parquet(path)
    )
