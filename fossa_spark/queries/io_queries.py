"""Source/sink round-trips (SURVEY.md §2c "Scans / sources / sinks").

The reference's connector surface is engine-URL strings over CSV files with
declared flat schemas (reference examples/example_etl.py:139-143) and
templated multi-dataset outputs (examples/example_etl.py:56-61). Spark-native
equivalents: schemaful CSV read/write and partitionBy() writes. Both queries
round-trip through a scratch directory and re-aggregate, and the oracle runs
the same aggregate on the source table — so lossless IO is what's checked.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fossa_spark.queries._util import cents, load, sql_cents
from fossa_spark.sources import compact_parquet

_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan with explicit schema (never inferSchema in prod —
    it double-reads the data). Shortest-repr doubles survive the text
    round-trip exactly, which the oracle hash proves."""
    out = tempfile.mkdtemp(prefix="fossa_csv_")
    src = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    src.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(_CSV_SCHEMA).option("header", True).csv(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated multi-output ≙ partitionBy() write (hive-style layout,
    one directory per key — the scalable version of the reference's
    per-subtask templated CSV paths). Read back through partition
    discovery, aggregate per partition."""
    out = tempfile.mkdtemp(prefix="fossa_part_")
    src = load(spark, sf_dir, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("o_orderstatus")
    )


def q_ndjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-delimited-JSON sink + schemaful scan (the reference's
    open-ended connector-string family includes ndjson; Connect maps
    ndjson:// to exactly this json-lines format). Longs and strings
    round-trip exactly; the money column rides as exact integer cents
    because JSON doubles would re-parse shortest-repr (fine) but cents
    keep the oracle comparison integer-only end-to-end."""
    out = tempfile.mkdtemp(prefix="fossa_ndjson_")
    src = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        cents("c_acctbal").alias("acctbal_cents"),
    )
    src.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("acctbal_cents", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("acctbal_cents").cast("double") / 100.0).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (Spark's second first-class columnar format; ORC
    keeps min/max stripe stats so predicate pushdown works like parquet).
    Round-trips lineitem's mixed types — timestamp, double, string —
    through a scratch dir, filters AFTER re-read so the pushed predicate
    exercises the ORC reader, then aggregates. The oracle computes the
    same result straight from the parquet source: lossless IO is what's
    checked."""
    out = tempfile.mkdtemp(prefix="fossa_orc_")
    src = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
        "l_shipdate",
    )
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("l_quantity") >= 25.0)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")).cast("double") / 100.0).alias(
                "sum_price"
            ),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias(
                "last_ship"
            ),
        )
        .orderBy("l_returnflag")
    )


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan through Spark 4's BUILT-IN xml data source (the
    spark-xml package folded into core — rowTag-delimited records, schema
    inference on read): round-trips the supplier dim through a scratch
    dir, re-reads with an explicit schema (inference would widen ints),
    filters after the re-read, and aggregates per nation.  The oracle
    computes the same result straight from the parquet source — lossless
    IO through the XML writer/parser is what's checked.  XML is the
    interchange format the reference's ETL surface would meet in the
    wild (feeds, sitemaps, legacy exports); at scale the reader splits
    by rowTag like any text source."""
    out = tempfile.mkdtemp(prefix="fossa_xml_")
    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    (
        src.write.mode("overwrite").format("xml")
        .option("rootTag", "suppliers").option("rowTag", "supplier")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey bigint, "
                "s_acctbal double")
        .load(out)
        .filter(F.col("s_acctbal") > 0.0)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            (F.sum(cents("s_acctbal")).cast("double") / 100.0).alias(
                "sum_bal"
            ),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


def q_source_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through Spark 4's Python Data Source API: the
    fossa_synth source plans 8 parallel input partitions over a
    deterministic integer-hash table, and the aggregate runs on top like
    any file scan. The oracle regenerates the identical table from
    range() — proving the connector's planning/reading path, not just its
    arithmetic. (The Spark-native equivalent of adding a new engine-URL
    scheme to the reference's connector registry.)"""
    from fossa_spark.sources import SyntheticDataSource

    try:
        spark.dataSource.register(SyntheticDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    df = (
        spark.read.format("fossa_synth")
        .option("rows", "20000")
        .option("parts", "8")
        .load()
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("val_cents").cast("double") / 100.0).alias("total_val"),
            F.min("val_cents").alias("min_cents"),
            F.max("val_cents").alias("max_cents"),
        )
        .orderBy("bucket")
    )


def q_stream_source_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the custom Python data source (Spark 4
    SimpleDataSourceStreamReader): fossa_synth's deterministic table
    arrives in 250-row micro-batches through the actual streaming engine
    (offset tracking, prefetch, sink commits) into a memory sink; the
    query polls until all 600 rows land, stops the stream, and aggregates
    the sink. Oracle regenerates the table from range() — the planning,
    offset, and replay paths are what's being checked."""
    import time
    import uuid

    from fossa_spark.sources import make_stream_source

    try:
        spark.dataSource.register(make_stream_source())
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    total = 600
    name = f"fs_stream_src_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("fossa_synth_stream")
        .option("rows", str(total))
        .option("batch", "250")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while spark.table(name).count() < total:
            err = q.exception()
            if err is not None:
                raise RuntimeError(f"stream failed: {err}") from None
            if time.time() > deadline:
                raise TimeoutError(
                    f"stream source delivered "
                    f"{spark.table(name).count()}/{total} rows"
                )
            time.sleep(0.2)
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_cents").alias("sum_cents"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("bucket")
    )


def q_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with
    different schemas (the second adds o_orderpriority) unified by
    mergeSchema — rows from the older batch surface NULL for the added
    column. This is how a long-lived 100 TB dataset absorbs new columns
    without rewriting history; the oracle reconstructs the same
    null-for-old-rows view from the source table."""
    out = tempfile.mkdtemp(prefix="fossa_merge_")
    o = load(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{out}/b1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{out}/b2")
    back = spark.read.option("mergeSchema", True).parquet(
        f"{out}/b1", f"{out}/b2"
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias(
                "total_price"
            ),
        )
        .orderBy("o_orderpriority")
    )


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (sources.compact_parquet): orders exploded
    into 64 tiny files, compacted back by listing-driven coalesce (no
    shuffle), then aggregated from the compacted copy — the oracle proves
    the rewrite lossless, pytest asserts the file count actually drops."""
    scratch = tempfile.mkdtemp(prefix="fossa_compact_")
    small, compacted = f"{scratch}/small", f"{scratch}/compacted"
    load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).repartition(64).write.mode("overwrite").parquet(small)
    compact_parquet(spark, small, compacted)
    back = spark.read.parquet(compacted)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias(
                "total_price"
            ),
        )
        .orderBy("o_orderstatus")
    )


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout round-trip: orders rewritten
    Morton-ordered on (o_custkey, o_totalprice), read back through a
    two-dimensional box filter, aggregated. The oracle runs the same box
    query on the source table, proving the layout transform is lossless;
    tests/test_operators.py proves the point of the exercise — the box
    filter touches a fraction of the z-ordered files but ALL of a
    one-dimensionally sorted layout's."""
    from fossa_spark.sources import zorder_write

    out = tempfile.mkdtemp(prefix="fossa_zorder_")
    src = load(spark, sf_dir, "orders")
    zorder_write(src, out, "o_custkey", "o_totalprice", n_files=8)
    back = spark.read.parquet(out)
    box = back.filter(
        (F.col("o_custkey") <= 400) & (F.col("o_totalprice") <= 50000.0)
    )
    return (
        box.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0)
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill via DYNAMIC partition overwrite — the
    operational primitive behind every 'recompute last Tuesday' job on a
    date-partitioned 100 TB table: rewriting one partition must replace
    ONLY that partition, leaving the rest byte-identical (static overwrite
    mode would truncate the whole table — the classic footgun this mode
    exists to avoid).

    Here: orders written partitioned by o_orderstatus, then the 'F'
    partition is backfilled with corrected rows (prices +10%). The oracle
    computes the expected post-backfill state directly, so both the
    replacement AND the untouched partitions are hash-verified."""
    out = tempfile.mkdtemp(prefix="fossa_backfill_")
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    corrected = src.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out hive-
    partitioned by join key (orders by o_orderstatus), the dim side is a
    tiny filtered frame whose qualifying keys are only known at runtime —
    Spark broadcasts the dim, derives the partition filter FROM the join,
    and skips the non-qualifying fact partitions entirely (the scan reads
    'P' only, never 'O'/'F' files). The 100 TB pattern for star joins
    over partitioned lakes; tests/test_plans.py asserts the
    dynamicpruning subquery in the scan. Oracle = the plain join."""
    out = tempfile.mkdtemp(prefix="fossa_dpp_")
    src = load(spark, sf_dir, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    fact = spark.read.parquet(out)
    # the qualifying key must be DATA-DERIVED (the rarest status) — a
    # literal would constant-fold into a static partition filter and
    # nothing dynamic would be exercised
    # rank-then-filter rather than orderBy().limit(1): Spark's
    # PartitionPruning rule inserts the DPP subquery only when the dim side
    # carries a selective FILTER — a GlobalLimit doesn't qualify (measured:
    # the limit formulation plans a static isnotnull scan, no pruning).
    from pyspark.sql import Window as W

    dim = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.col("n"), F.col("status"))
            ),
        )
        .filter(F.col("rk") == 1)
        .select("status")
    )
    j = fact.join(F.broadcast(dim), fact.o_orderstatus == dim.status)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias(
                "total_price"
            ),
        )
        .orderBy("o_orderstatus")
    )


def q_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read resilience: a CSV feed with planted malformed rows
    (every 10th price is unparseable) read in PERMISSIVE mode with
    columnNameOfCorruptRecord — the semantics that decide whether one bad
    row kills a 100 TB ingest (FAILFAST) or lands in a quarantine column.
    The oracle recomputes the expected good/bad split and the exact sum
    over surviving rows from the source table, so silent coercion (a bad
    row parsed as something) or over-rejection both flip the hash."""
    o = load(spark, sf_dir, "orders")
    lines = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("xx")).otherwise(
                cents("o_totalprice").cast("string")
            ),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="fossa_csv_dirty_")
    lines.coalesce(1).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price_cents", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_corrupt").isNotNull().cast("long")).alias("n_bad"),
        (
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("price_cents")))
            .cast("double")
            / 100.0
        ).alias("good_total"),
    )


def _orders_version_chain(spark: SparkSession, sf_dir: str, *,
                          vacuum: bool) -> str:
    """Build THE deterministic three-commit version chain every
    versioned-table query shares (one definition, review r10) over
    orders, in a fresh temp dir: v1 inserts keys ≡0 (mod 3); v2 inserts ≡1,
    re-upserts ≡0 (mod 9, excluding ≡0 mod 12) with o_custkey+1e6, and
    deletes ≡0 (mod 12); v3 inserts ≡2 and deletes ≡6 (mod 15). A
    checkpoint lands at v2; ``vacuum`` additionally drops the folded
    history. Returns the table path."""
    import os

    from fossa_spark import versioned as V

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    tbl = os.path.join(tempfile.mkdtemp(prefix="fossa_vchain_"), "tbl")
    k = F.col("o_orderkey")
    up = F.lit(V.UPSERT)
    V.init_table(tbl, key=["o_orderkey"])
    v1 = base.filter(k % 3 == 0).withColumn(V.OP_COL, up)
    v2 = (
        base.filter(k % 3 == 1).withColumn(V.OP_COL, up)
        .unionByName(
            base.filter((k % 9 == 0) & (k % 12 != 0))
            .withColumn("o_custkey", F.col("o_custkey") + 1_000_000)
            .withColumn(V.OP_COL, up)
        )
        .unionByName(
            base.filter(k % 12 == 0).withColumn(V.OP_COL, F.lit(V.DELETE))
        )
    )
    v3 = (
        base.filter(k % 3 == 2).withColumn(V.OP_COL, up)
        .unionByName(
            base.filter(k % 15 == 6).withColumn(V.OP_COL, F.lit(V.DELETE))
        )
    )
    V.commit(tbl, v1, expect_version=0)
    V.commit(tbl, v2, expect_version=1)
    V.commit(tbl, v3, expect_version=2)
    V.checkpoint(spark, tbl, 2)
    if vacuum:
        V.vacuum(tbl)
    return tbl


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned dataset with TIME TRAVEL (round 10,
    fossa_spark/versioned.py): the shared three-commit chain over
    orders (_orders_version_chain) with a CHECKPOINT at v2 and a
    VACUUM that physically drops the v1/v2 deltas, so the as-of-2
    read resolves from the checkpoint alone and the as-of-3 read folds
    checkpoint + the one surviving delta (both partition-pruned on the
    v= directory column). Returns the per-status audit of BOTH versions;
    the oracle re-derives each version's exact membership and payload
    state from orders, so a fold slip, a lost tombstone, or a
    vacuum-destroyed row moves a cell."""
    from fossa_spark import versioned as V

    tbl = _orders_version_chain(spark, sf_dir, vacuum=True)

    def audit(v: int) -> DataFrame:
        return (
            V.read_as_of(spark, tbl, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum("o_custkey").alias("cust_sum"),
            )
            .withColumn("version", F.lit(v))
        )
    return (
        audit(2).unionByName(audit(3))
        .select("version", "o_orderstatus", "n_rows", "key_sum", "cust_sum")
        .orderBy("version", "o_orderstatus")
    )


def q_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE as a forward commit (round 10, versioned.py restore — the
    Delta RESTORE shape): roll the shared three-commit chain back to v1
    by committing the INVERSE of change_feed(v1 -> v3] (net inserts
    become tombstones, updates and deletes re-upsert their pre-image) —
    an O(changes) commit, never an O(table) rewrite, with the botched
    v2/v3 still readable behind it. Emits the per-status audit of BOTH
    as-of(1) and as-of(4): the oracle derives the v1 state from orders
    ONCE and expects it under both version labels, so any key the
    rollback missed, resurrected, or double-restored moves a cell.
    The chain is built per run, so the restore commit mutates only this
    run's copy."""
    from fossa_spark import versioned as V

    tbl = _orders_version_chain(spark, sf_dir, vacuum=False)
    v_new = V.restore(spark, tbl, 1)

    def audit(v: int) -> DataFrame:
        return (
            V.read_as_of(spark, tbl, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum("o_custkey").alias("cust_sum"),
            )
            .withColumn("version", F.lit(v))
        )

    return (
        audit(1).unionByName(audit(v_new))
        .select("version", "o_orderstatus", "n_rows", "key_sum", "cust_sum")
        .orderBy("version", "o_orderstatus")
    )


def q_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the versioned table (round 10,
    versioned.py change_feed — the Delta-CDF shape): the same shared
    three-commit chain as q_time_travel but retained in full, then the
    net row-level changes in (v1, v3] — keys inserted at v2/v3 net to
    'insert', the v2 payload rewrite nets to 'update', tombstones net
    to 'delete' carrying the PRE-image, and a key upserted-then-deleted
    inside the range nets to one 'delete'. Only the changed rows are
    scanned (partition-pruned delta fold) + one membership join against
    as-of(v1); the checkpoint at v2 must be ignored by the feed. The
    oracle re-derives the net classification and all three payload
    states set-theoretically from orders."""
    from fossa_spark import versioned as V

    tbl = _orders_version_chain(spark, sf_dir, vacuum=False)
    feed = V.change_feed(spark, tbl, 1, 3)
    return (
        feed.groupBy("change", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
        .orderBy("change", "o_orderstatus")
    )


def q_evolve_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION on the versioned table (round 11,
    VERDICT r10 item 5 — the one capability gap a pipeline user hit):
    v1 commits (o_orderkey, o_custkey, o_orderstatus) for keys ≡0 (mod
    3) and CHECKPOINTS, then v2 commits a superset schema adding
    ``prio`` (= key mod 97) — inserts ≡1 (mod 3), re-upserts ≡6 (mod
    12) with o_custkey+1e6 and prio+1000, deletes ≡0 (mod 12).  The
    as-of(1) read AFTER the evolution must NULL-backfill prio across
    the whole old version (including through the PRE-evolution
    checkpoint, which physically lacks the column), and as-of(2) folds
    checkpoint + evolved delta under the union schema — readers resolve
    the schema from the table log (meta), never a mergeSchema footer
    scan, so old files are never rewritten (versioned.py commit/
    _delta_schema).  The oracle re-derives both versions' exact
    membership, payload, and backfilled prio sums set-theoretically
    from orders; a lost backfill, dropped tombstone, or mis-folded
    evolved row moves a cell."""
    import os as _os

    from fossa_spark import versioned as V

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    up = F.lit(V.UPSERT)
    tbl = _os.path.join(tempfile.mkdtemp(prefix="fossa_vevolve_"), "tbl")
    V.init_table(tbl, key=["o_orderkey"])
    V.commit(tbl, base.filter(k % 3 == 0).withColumn(V.OP_COL, up),
             expect_version=0)
    V.checkpoint(spark, tbl, 1)  # pre-evolution checkpoint
    v2 = (
        base.filter(k % 3 == 1)
        .withColumn("prio", k % 97)
        .withColumn(V.OP_COL, up)
        .unionByName(
            base.filter(k % 12 == 6)
            .withColumn("o_custkey", F.col("o_custkey") + 1_000_000)
            .withColumn("prio", k % 97 + 1000)
            .withColumn(V.OP_COL, up)
        )
        .unionByName(
            base.filter(k % 12 == 0)
            .withColumn("prio", F.lit(None).cast("long"))
            .withColumn(V.OP_COL, F.lit(V.DELETE))
        )
    )
    V.commit(tbl, v2, expect_version=1)

    def audit(v: int) -> DataFrame:
        return (
            V.read_as_of(spark, tbl, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum("o_custkey").alias("cust_sum"),
                F.coalesce(F.sum("prio"), F.lit(0).cast("long"))
                .alias("prio_sum"),
            )
            .withColumn("version", F.lit(v))
        )

    return (
        audit(1).unionByName(audit(2))
        .select("version", "o_orderstatus", "n_rows", "key_sum",
                "cust_sum", "prio_sum")
        .orderBy("version", "o_orderstatus")
    )


def q_merge_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO the versioned table (round 11, versioned.py
    merge_into — the Delta MERGE shape, completing the lakehouse DML
    surface): v1 commits keys ≡0 (mod 3), then a RAW source (keys ≡0
    mod 2, payload o_custkey+5e5, NO _op column) merges with
    delete_condition = key ≡0 (mod 10) — matched rows update, unmatched
    insert, matched+condition tombstone, and unmatched+condition rows
    are DROPPED (no phantom delete may reach the change feed).  The
    emitted relation is the (v1, v2] change feed grouped by class and
    status, so the oracle checks MERGE's op resolution itself
    set-theoretically from orders: update = ≡0 (mod 6) surviving the
    delete slice with the new payload; delete = ≡0 (mod 30) carrying
    the PRE-image; insert = even, ≢0 (mod 3), surviving.  One as-of
    fold + one key-only membership join + an O(source) commit — the
    same table-side cost Delta's MERGE pays in its rewrite step."""
    import os as _os

    from fossa_spark import versioned as V

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    tbl = _os.path.join(tempfile.mkdtemp(prefix="fossa_vmerge_"), "tbl")
    V.init_table(tbl, key=["o_orderkey"])
    V.commit(
        tbl,
        base.filter(k % 3 == 0).withColumn(V.OP_COL, F.lit(V.UPSERT)),
        expect_version=0,
    )
    src = base.filter(k % 2 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + 500_000
    )
    V.merge_into(spark, tbl, src, delete_condition=(k % 10 == 0))
    feed = V.change_feed(spark, tbl, 1, 2)
    return (
        feed.groupBy("change", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
        .orderBy("change", "o_orderstatus")
    )


def q_clone_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE of the versioned table (round 11, versioned.py
    clone_table — the Delta CLONE shape): the shared three-commit chain
    is forked ZERO-COPY (every delta/checkpoint file hard-linked,
    O(files) metadata work), then the fork alone advances with a v4
    that tombstones keys ≡3 (mod 9).  Emits the per-status audit of the
    SOURCE at v3 and the CLONE at v4 under one ``side`` label: the
    source cells must equal the unforked q_time_travel v3 state (a
    clone that leaked its divergent commit back moves them) and the
    clone cells must reflect exactly the extra tombstones (a fork that
    lost shared history moves those).  The chain is built per run, so
    the fork mutates only this run's copy."""
    from fossa_spark import versioned as V

    tbl = _orders_version_chain(spark, sf_dir, vacuum=False)
    fork = tbl + "_fork"
    V.clone_table(tbl, fork)
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    V.commit(
        fork,
        base.filter(k % 9 == 3).withColumn(V.OP_COL, F.lit(V.DELETE)),
        expect_version=3,
    )

    def audit(path: str, v: int, side: str) -> DataFrame:
        return (
            V.read_as_of(spark, path, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum("o_custkey").alias("cust_sum"),
            )
            .withColumn("side", F.lit(side))
        )

    return (
        audit(tbl, 3, "source").unionByName(audit(fork, 4, "clone"))
        .select("side", "o_orderstatus", "n_rows", "key_sum", "cust_sum")
        .orderBy("side", "o_orderstatus")
    )


def q_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-DRIVEN materialized-view maintenance (round 10 — the
    change-data-feed consumer): a per-status aggregate view (count,
    key sum, payload sum) is seeded from as-of(v1), then maintained
    PURELY from change_feed(v1→v3, with_preimage=True) by the fully
    general signed-state recipe — every update is treated as a
    RETRACTION of its pre-image plus an insertion of its post-image
    (each charged to its OWN group, so updates that move a row between
    groups maintain both sides; review r10), deletes retract, inserts
    add — and the maintained view must equal the direct aggregate of
    as-of(v3), which is exactly what the oracle computes
    set-theoretically from orders. An O(changes) refresh replacing an
    O(table) rescan: the feed is the only corpus-sized input after the
    seed. Reuses the shared chain (vacuum=False)."""
    from fossa_spark import versioned as V

    tbl = _orders_version_chain(spark, sf_dir, vacuum=False)

    seed = (
        V.read_as_of(spark, tbl, 1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
    )
    feed = V.change_feed(spark, tbl, 1, 3, with_preimage=True)
    # retractions: deletes (payload IS the pre-image) and updates
    # (pre-image in old_*), each charged to its pre-image group
    retract = feed.filter(F.col("change").isin("delete", "update")).select(
        F.when(F.col("change") == "update", F.col("old_o_orderstatus"))
        .otherwise(F.col("o_orderstatus")).alias("grp"),
        F.lit(-1).alias("dn"),
        (-F.col("o_orderkey")).alias("dk"),
        F.when(F.col("change") == "update", -F.col("old_o_custkey"))
        .otherwise(-F.col("o_custkey")).alias("dc"),
    )
    # insertions: inserts and updates, post-image group and payload
    add = feed.filter(F.col("change").isin("insert", "update")).select(
        F.col("o_orderstatus").alias("grp"),
        F.lit(1).alias("dn"),
        F.col("o_orderkey").alias("dk"),
        F.col("o_custkey").alias("dc"),
    )
    deltas = (
        retract.unionByName(add)
        .groupBy("grp")
        .agg(F.sum("dn").alias("n_rows"), F.sum("dk").alias("key_sum"),
             F.sum("dc").alias("cust_sum"))
        .withColumnRenamed("grp", "o_orderstatus")
    )
    return (
        seed.unionByName(deltas)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("key_sum").alias("key_sum"),
            F.sum("cust_sum").alias("cust_sum"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy("o_orderstatus")
    )


QUERIES = {
    "q_csv_malformed": q_csv_malformed,
    "q_time_travel": q_time_travel,
    "q_restore": q_restore,
    "q_change_feed": q_change_feed,
    "q_evolve_versioned": q_evolve_versioned,
    "q_merge_versioned": q_merge_versioned,
    "q_clone_versioned": q_clone_versioned,
    "q_view_maintain": q_view_maintain,
    "q_join_dpp": q_join_dpp,
    "q_csv_roundtrip": q_csv_roundtrip,
    "q_partitioned_write": q_partitioned_write,
    "q_ndjson_roundtrip": q_ndjson_roundtrip,
    "q_orc_roundtrip": q_orc_roundtrip,
    "q_xml_roundtrip": q_xml_roundtrip,
    "q_source_python": q_source_python,
    "q_stream_source_python": q_stream_source_python,
    "q_schema_merge": q_schema_merge,
    "q_compact_files": q_compact_files,
    "q_zorder": q_zorder,
    "q_backfill_overwrite": q_backfill_overwrite,
}

ORACLE = {
    # each version's membership/payload re-derived set-theoretically:
    # as-of-2 = keys %3 in (0,1) minus %12=0 tombstones, cust modified
    # where %9=0 survived; as-of-3 additionally inserts %3=2 and
    # tombstones %15=6
    # restore-to-v1 must reproduce the v1 state EXACTLY under both the
    # version-1 and version-4 labels: v1 membership is keys == 0 (mod 3)
    # with the untouched base payload
    "q_restore": """
        WITH a1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0)
        SELECT CAST(1 AS INT) AS version, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
        FROM a1 GROUP BY o_orderstatus
        UNION ALL
        SELECT CAST(4 AS INT), o_orderstatus,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(o_orderkey) AS BIGINT),
               CAST(SUM(o_custkey) AS BIGINT)
        FROM a1 GROUP BY o_orderstatus
        ORDER BY version, o_orderstatus
    """,
    "q_time_travel": """
        WITH a2 AS (
          SELECT * FROM orders
          WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 12 <> 0
        ),
        a3 AS (
          SELECT * FROM orders
          WHERE o_orderkey % 3 IN (0, 1, 2) AND o_orderkey % 12 <> 0
            AND o_orderkey % 15 <> 6
        )
        SELECT CAST(2 AS INT) AS version, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CASE WHEN o_orderkey % 9 = 0 AND o_orderkey % 12 <> 0
                             THEN o_custkey + 1000000 ELSE o_custkey END)
                    AS BIGINT) AS cust_sum
        FROM a2 GROUP BY o_orderstatus
        UNION ALL
        SELECT CAST(3 AS INT), o_orderstatus,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(o_orderkey) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderkey % 9 = 0 AND o_orderkey % 12 <> 0
                             THEN o_custkey + 1000000 ELSE o_custkey END)
                    AS BIGINT)
        FROM a3 GROUP BY o_orderstatus
        ORDER BY version, o_orderstatus
    """,
    # the maintained view must equal the DIRECT aggregate of as-of(v3):
    # same membership/payload derivation as q_time_travel's v3 block
    "q_view_maintain": """
        WITH a3 AS (
          SELECT * FROM orders
          WHERE o_orderkey % 3 IN (0, 1, 2) AND o_orderkey % 12 <> 0
            AND o_orderkey % 15 <> 6
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CASE WHEN o_orderkey % 9 = 0 AND o_orderkey % 12 <> 0
                             THEN o_custkey + 1000000 ELSE o_custkey END)
                    AS BIGINT) AS cust_sum
        FROM a3 GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    # additive evolution: as-of-1 is the pre-evolution state with prio
    # NULL-backfilled (prio_sum 0); as-of-2 = v1 survivors (prio NULL)
    # + re-upserts %12=6 (cust+1e6, prio=k%97+1000) + inserts %3=1
    # (prio=k%97), minus %12=0 tombstones
    "q_evolve_versioned": """
        WITH a1 AS (
          SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s
          FROM orders WHERE o_orderkey % 3 = 0
        ),
        a2 AS (
          SELECT k, c, s, CAST(NULL AS BIGINT) AS p
          FROM a1 WHERE k % 12 NOT IN (0, 6)
          UNION ALL
          SELECT k, c + 1000000, s, k % 97 + 1000 FROM a1 WHERE k % 12 = 6
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderkey % 97
          FROM orders WHERE o_orderkey % 3 = 1
        )
        SELECT CAST(1 AS INT) AS version, s AS o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS key_sum,
               CAST(SUM(c) AS BIGINT) AS cust_sum,
               CAST(0 AS BIGINT) AS prio_sum
        FROM a1 GROUP BY s
        UNION ALL
        SELECT CAST(2 AS INT), s,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(k) AS BIGINT),
               CAST(SUM(c) AS BIGINT),
               CAST(COALESCE(SUM(p), 0) AS BIGINT)
        FROM a2 GROUP BY s
        ORDER BY version, o_orderstatus
    """,
    # clone fork: source@3 = the q_time_travel v3 derivation; clone@4 =
    # the same state minus the %9=3 tombstones (dead %9=3 keys net out)
    "q_clone_versioned": """
        WITH a3 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 9 = 0 AND o_orderkey % 12 <> 0
                      THEN o_custkey + 1000000 ELSE o_custkey END AS c,
                 o_orderstatus
          FROM orders
          WHERE o_orderkey % 3 IN (0, 1, 2) AND o_orderkey % 12 <> 0
            AND o_orderkey % 15 <> 6
        )
        SELECT 'source' AS side, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(c) AS BIGINT) AS cust_sum
        FROM a3 GROUP BY o_orderstatus
        UNION ALL
        SELECT 'clone', o_orderstatus,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(o_orderkey) AS BIGINT),
               CAST(SUM(c) AS BIGINT)
        FROM a3 WHERE o_orderkey % 9 <> 3
        GROUP BY o_orderstatus
        ORDER BY side, o_orderstatus
    """,
    # MERGE op resolution, set-theoretically: v1 = keys %3=0; source =
    # even keys with cust+5e5; delete slice = %10=0 on the source.
    # update  = matched (%6=0) surviving the delete slice, NEW payload;
    # delete  = matched AND %10=0 (i.e. %30=0), PRE-image payload;
    # insert  = even, not %3=0, surviving the delete slice, new payload;
    # unmatched delete-slice rows must NOT appear at all
    "q_merge_versioned": """
        WITH ch AS (
          SELECT 'update' AS change, o_orderkey, o_custkey + 500000 AS c,
                 o_orderstatus
          FROM orders
          WHERE o_orderkey % 6 = 0 AND o_orderkey % 10 <> 0
          UNION ALL
          SELECT 'delete', o_orderkey, o_custkey, o_orderstatus
          FROM orders WHERE o_orderkey % 30 = 0
          UNION ALL
          SELECT 'insert', o_orderkey, o_custkey + 500000, o_orderstatus
          FROM orders
          WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
            AND o_orderkey % 10 <> 0
        )
        SELECT change, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(c) AS BIGINT) AS cust_sum
        FROM ch GROUP BY change, o_orderstatus
        ORDER BY change, o_orderstatus
    """,
    # net changes in (v1, v3]: inserts = keys arriving at v2/v3; update =
    # the v2 payload rewrite that SURVIVES v3's tombstones; deletes carry
    # the pre-image (as-of-1 payload, which is the unmodified base)
    "q_change_feed": """
        WITH ch AS (
          SELECT 'insert' AS change, o_orderkey, o_custkey, o_orderstatus
          FROM orders WHERE o_orderkey % 3 IN (1, 2)
          UNION ALL
          SELECT 'update', o_orderkey, o_custkey + 1000000, o_orderstatus
          FROM orders
          WHERE o_orderkey % 9 = 0 AND o_orderkey % 12 <> 0
            AND o_orderkey % 15 <> 6
          UNION ALL
          SELECT 'delete', o_orderkey, o_custkey, o_orderstatus
          FROM orders
          WHERE o_orderkey % 3 = 0
            AND (o_orderkey % 12 = 0 OR o_orderkey % 15 = 6)
        )
        SELECT change, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
        FROM ch GROUP BY change, o_orderstatus
        ORDER BY change, o_orderstatus
    """,
    "q_csv_malformed": f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bad,
               CAST(SUM(CASE WHEN o_orderkey % 10 <> 0
                             THEN {sql_cents("o_totalprice")} END)
                    AS DOUBLE) / 100.0 AS good_total
        FROM orders
    """,
    # DPP is plan-level only — the result is the aggregate over orders
    # whose status is the rarest one (tie-break alphabetical)
    "q_join_dpp": f"""
        WITH rare AS (
          SELECT o_orderstatus AS status
          FROM orders GROUP BY o_orderstatus
          ORDER BY COUNT(*) ASC, status ASC LIMIT 1
        )
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM({sql_cents("o_totalprice")}) AS DOUBLE) / 100.0
                 AS total_price
        FROM orders JOIN rare ON o_orderstatus = rare.status
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    # ORC round-trip is lossless, so the oracle aggregates the source
    "q_xml_roundtrip": f"""
        SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp,
               CAST(SUM({sql_cents("s_acctbal")}) AS DOUBLE) / 100.0
                 AS sum_bal,
               MIN(s_name) AS first_name
        FROM supplier
        WHERE s_acctbal > 0.0
        GROUP BY s_nationkey ORDER BY s_nationkey
    """,
    "q_orc_roundtrip": f"""
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM({sql_cents("l_extendedprice")}) AS DOUBLE) / 100.0
                 AS sum_price,
               strftime(CAST(MAX(l_shipdate) AS DATE), '%Y-%m-%d')
                 AS last_ship
        FROM lineitem
        WHERE l_quantity >= 25.0
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    # expected post-backfill state: 'F' partition replaced with corrected
    # prices, every other partition untouched
    "q_backfill_overwrite": f"""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                             THEN {sql_cents("o_totalprice * 1.1")}
                             ELSE {sql_cents("o_totalprice")} END) AS BIGINT)
                 AS sum_cents
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q_zorder": f"""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM({sql_cents("o_totalprice")}) AS DOUBLE) / 100.0
                 AS total_price
        FROM orders
        WHERE o_custkey <= 400 AND o_totalprice <= 50000.0
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q_csv_roundtrip": f"""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM({sql_cents("o_totalprice")}) AS DOUBLE) / 100.0 AS total_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q_partitioned_write": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q_ndjson_roundtrip": f"""
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM({sql_cents("c_acctbal")}) AS DOUBLE) / 100.0 AS total_bal
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q_schema_merge": f"""
        SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
                 AS o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM({sql_cents("o_totalprice")}) AS DOUBLE) / 100.0
                 AS total_price
        FROM orders GROUP BY 1 ORDER BY 1
    """,
    "q_compact_files": f"""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM({sql_cents("o_totalprice")}) AS DOUBLE) / 100.0
                 AS total_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q_stream_source_python": """
        WITH t AS (
          SELECT range AS id, range % 16 AS bucket,
                 ((range * 2654435761) % 2147483647) % 100000 AS val_cents
          FROM range(600)
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val_cents) AS BIGINT) AS sum_cents,
               MIN(id) AS min_id, MAX(id) AS max_id
        FROM t GROUP BY bucket ORDER BY bucket
    """,
    "q_source_python": """
        WITH t AS (
          SELECT range AS id, range % 16 AS bucket,
                 ((range * 2654435761) % 2147483647) % 100000 AS val_cents
          FROM range(20000)
        )
        SELECT bucket, COUNT(*) AS n_rows,
               CAST(SUM(val_cents) AS DOUBLE) / 100.0 AS total_val,
               MIN(val_cents) AS min_cents, MAX(val_cents) AS max_cents
        FROM t GROUP BY bucket ORDER BY bucket
    """,
}
