"""Connectors: engine-URL strings + resolver-context templating.

Reference surface being re-expressed (see SURVEY.md §1.2/§1.4):
- ``ayeaye.Connect(engine_url="csv://{output_datasets}/x.csv",
  field_names=[...], access=WRITE)`` — reference examples/example_etl.py:139-143.
- ``{placeholder}`` late binding via ``connector_resolver.context(...)`` —
  reference lib/fossa/control/process.py:88.
- ``MultiConnectorNewDataset(template=...)`` growable dataset lists —
  reference examples/example_etl.py:56-61.

Spark-native design: an engine URL resolves to a DataFrameReader/Writer
format + path; declared ``field_names`` become a typed StructType (upgraded
from the reference's untyped strings); multi-dataset templates map to
``partitionBy`` writes or per-key templated paths.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from enum import Enum
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class AccessMode(Enum):
    READ = "r"
    WRITE = "w"
    READWRITE = "rw"


# Spark-native file formats, plus aliases/passthroughs re-expressing the
# open-ended ayeaye connector registry (reference examples/example_etl.py:140
# uses csv://; ayeaye also ships ndjson and sqlite engine types):
#   ndjson:// — newline-delimited JSON; Spark's json source is already
#     line-per-record, so this is an alias that pins multiLine=false.
#   tsv://    — csv with a tab separator.
#   sqlite:// — table read/write through Python's stdlib sqlite3 (no JDBC
#     driver in this environment). Driver-side by design: control-plane-
#     sized data only (job specs, manifests) — the same single-node shape
#     as ayeaye's sqlite connector. Table name rides in the URL fragment:
#     sqlite:///path/db.sqlite#tablename
#   versioned:// — the round-10 versioned dataset (fossa_spark.versioned):
#     reads resolve time travel from the URL fragment
#     (versioned:///path/tbl#v=2 → read_as_of v2; no fragment → current);
#     writes are COMMITS (append-only version chain — rows without an
#     _op column are treated as upserts). First write must declare the
#     key via options={"key": "col[,col]"}; options={"tag": ...} makes
#     the commit idempotent for replaying producers.
_FORMATS = {"csv", "parquet", "json", "orc", "text", "ndjson", "tsv",
            "sqlite", "versioned"}


@dataclass
class EngineUrl:
    scheme: str
    path: str
    fragment: str = ""

    @classmethod
    def parse(cls, url: str) -> "EngineUrl":
        parsed = urlparse(url)
        scheme = parsed.scheme or "parquet"
        if scheme not in _FORMATS:
            raise ValueError(
                f"unsupported engine-url scheme: {scheme!r} in {url!r}; "
                f"supported: {sorted(_FORMATS)}"
            )
        # csv:///abs/path and csv://rel/path both carry the path in netloc+path
        path = (parsed.netloc + parsed.path) if parsed.netloc else parsed.path
        return cls(scheme=scheme, path=path, fragment=parsed.fragment)


class ConnectorResolver:
    """Thread-local stack of template contexts (the reference's
    ``connector_resolver``): ``with resolver.context(output=...)`` makes
    ``{output}`` resolvable in any engine URL until exit."""

    def __init__(self) -> None:
        self._local = threading.local()

    def _stack(self) -> list[dict[str, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = [{}]
        return self._local.stack

    def context(self, **kwargs: str):
        resolver = self

        class _Ctx:
            def __enter__(self) -> "ConnectorResolver":
                resolver._stack().append({**resolver.mapping(), **kwargs})
                return resolver

            def __exit__(self, *exc) -> None:
                resolver._stack().pop()

        return _Ctx()

    def mapping(self) -> dict[str, str]:
        return self._stack()[-1]

    def resolve(self, template: str) -> str:
        try:
            return template.format(**self.mapping())
        except KeyError as e:
            raise KeyError(
                f"unresolved engine-url placeholder {e} in {template!r}; "
                f"available: {sorted(self.mapping())}"
            ) from None


connector_resolver = ConnectorResolver()


# session confs that change how a parquet footer maps to a schema
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_MEMO_MAX = 256  # paths; the oldest entry is dropped first
_schema_memo: OrderedDict[str, tuple[tuple, T.StructType]] = OrderedDict()
_schema_lock = threading.Lock()


def read_parquet(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """``spark.read.options(**options).parquet(path)`` that infers a regular
    file's schema once per (inode, size, mtime, _SCHEMA_CONFS values). A
    repeat read passes the StructType back, which starts no Spark job and
    gives the same plan: Spark applies asNullable to a supplied schema as to
    an inferred one. Directories (a file rewritten inside one leaves its
    mtime alone), globs and ``mergeSchema`` reads infer every time."""
    reader = spark.read.options(**options)
    full = os.path.abspath(path)
    if (any(c in path for c in "*?[{")
            or any(k.lower() == "mergeschema" for k in options)
            or not os.path.isfile(full)):
        return reader.parquet(path)
    st = os.stat(full)
    key = (st.st_ino, st.st_size, st.st_mtime_ns,
           tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    with _schema_lock:
        hit = _schema_memo.get(full)
    if hit is not None and hit[0] == key:
        return reader.schema(hit[1]).parquet(path)
    df = reader.parquet(path)
    with _schema_lock:
        _schema_memo[full] = (key, df.schema)
        _schema_memo.move_to_end(full)
        while len(_schema_memo) > _SCHEMA_MEMO_MAX:
            _schema_memo.popitem(last=False)
    return df


def _forget_schemas(path: str) -> None:
    """Drop the remembered schemas at and under ``path``."""
    full = os.path.abspath(path)
    with _schema_lock:
        for p in [p for p in _schema_memo
                  if p == full or p.startswith(full + os.sep)]:
            del _schema_memo[p]


def _schema_from_field_names(field_names: list[str] | None) -> T.StructType | None:
    if field_names is None:
        return None
    return T.StructType([T.StructField(n, T.StringType()) for n in field_names])


@dataclass
class Connect:
    """Dataset binding descriptor (the reference's ``ayeaye.Connect``).

    Declared as a class attribute on a Model; at run time ``.read(spark)`` /
    ``.write(df)`` resolve the templated engine URL and dispatch to the
    right reader/writer. ``schema`` (a StructType or DDL string) supersedes
    the reference's untyped ``field_names``; both are accepted.
    """

    engine_url: str
    access: AccessMode = AccessMode.READ
    schema: T.StructType | str | None = None
    field_names: list[str] | None = None
    options: dict[str, str] = field(default_factory=dict)

    def resolved(self) -> EngineUrl:
        return EngineUrl.parse(connector_resolver.resolve(self.engine_url))

    @property
    def datasource_exists(self) -> bool:
        """Existence probe (reference examples/example_etl.py:75)."""
        import glob

        p = self.resolved().path
        return os.path.exists(p) or bool(glob.glob(p))

    def read(self, spark: SparkSession) -> DataFrame:
        url = self.resolved()
        if url.scheme == "sqlite":
            return self._read_sqlite(spark, url)
        if url.scheme == "versioned":
            return self._read_versioned(spark, url)
        schema = self.schema or _schema_from_field_names(self.field_names)
        fmt, opts = self._format_and_options(url)
        if schema is None and fmt == "parquet":
            return read_parquet(spark, url.path, **opts)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.options(**opts).format(fmt).load(url.path)

    def write(self, df: DataFrame, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        if self.access is AccessMode.READ:
            raise PermissionError(f"connector {self.engine_url!r} is READ-only")
        url = self.resolved()
        if url.scheme == "sqlite":
            self._write_sqlite(df, url, mode)
            return
        if url.scheme == "versioned":
            self._write_versioned(df, url, mode, partition_by)
            return
        writer = df.write.mode(mode)
        fmt, opts = self._format_and_options(url)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.options(**opts).format(fmt).save(url.path)
        _forget_schemas(url.path)

    def _format_and_options(self, url: EngineUrl) -> tuple[str, dict[str, str]]:
        opts = dict(self.options)
        if url.scheme == "csv":
            opts.setdefault("header", "true")
            return "csv", opts
        if url.scheme == "tsv":
            opts.setdefault("header", "true")
            opts.setdefault("sep", "\t")
            return "csv", opts
        if url.scheme == "ndjson":
            opts.setdefault("multiLine", "false")
            return "json", opts
        return url.scheme, opts

    # versioned:// passthrough — the lakehouse table behind the ayeaye
    # connector surface: a model just declares
    # Connect(engine_url="versioned:///state/users#v=3") and gets time
    # travel; its write() is an append-only commit, never an overwrite.
    def _read_versioned(self, spark: SparkSession, url: EngineUrl) -> DataFrame:
        from fossa_spark import versioned as V

        v: int | None = None
        if url.fragment:
            if not url.fragment.startswith("v="):
                raise ValueError(
                    f"versioned:// fragment must be v=<int>, got "
                    f"{url.fragment!r}"
                )
            v = int(url.fragment[2:])
        df = V.read_as_of(spark, url.path, v)
        # apply the declared field contract like every other scheme does
        # (review r10): project + cast, failing loudly on a missing column
        schema = self.schema or _schema_from_field_names(self.field_names)
        if schema is not None:
            if isinstance(schema, str):
                schema = T._parse_datatype_string(schema)
            from pyspark.sql import functions as F

            df = df.select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields]
            )
        return df

    def _write_versioned(self, df: DataFrame, url: EngineUrl,
                         mode: str, partition_by: list[str] | None) -> None:
        from pyspark.sql import functions as F

        from fossa_spark import versioned as V

        if url.fragment:
            raise ValueError(
                "versioned:// writes commit the NEXT version; a #v= pin "
                "is a read-side concept"
            )
        # a commit IS an append — both spellings accepted; anything else
        # ('error', 'ignore') has no version-chain meaning and must not
        # be silently reinterpreted (review r10)
        if mode not in ("append", "overwrite"):
            raise ValueError(
                f"versioned:// writes are append-only commits; mode "
                f"{mode!r} has no meaning here"
            )
        if partition_by:
            raise ValueError(
                "versioned:// manages its own v= layout; partition_by "
                "is not supported"
            )
        if not os.path.exists(V._meta_path(url.path)):
            key = self.options.get("key")
            if not key:
                raise ValueError(
                    "first write to a versioned:// table must declare the "
                    "key: options={'key': 'col[,col]'}"
                )
            try:
                V.init_table(url.path, key=[k.strip() for k in key.split(",")])
            except FileExistsError:
                pass  # another writer initialized first — commit below
        if V.OP_COL not in df.columns:
            df = df.withColumn(V.OP_COL, F.lit(V.UPSERT))
        # the tag resolves through the connector context, so a model can
        # declare options={'tag': '{batch_id}'} ONCE and vary it per run;
        # a constant tag makes every later write a silent no-op replay —
        # exactly the idempotence contract, so it must vary per commit
        tag = self.options.get("tag")
        if tag is not None:
            tag = connector_resolver.resolve(tag)
        V.commit(url.path, df, tag=tag)

    # sqlite passthrough: stdlib sqlite3 on the driver. Control-plane-sized
    # data ONLY (same single-node contract as ayeaye's sqlite connector and
    # job_feed's per-batch collect) — a 100 TB table belongs in parquet.
    def _sqlite_table(self, url: EngineUrl) -> str:
        table = url.fragment or "data"
        if not table.replace("_", "").isalnum():
            raise ValueError(f"invalid sqlite table name: {table!r}")
        return table

    def _read_sqlite(self, spark: SparkSession, url: EngineUrl) -> DataFrame:
        import sqlite3

        import pandas as pd

        with sqlite3.connect(url.path) as conn:
            pdf = pd.read_sql_query(f"SELECT * FROM {self._sqlite_table(url)}", conn)
        schema = self.schema or _schema_from_field_names(self.field_names)
        if schema is not None:
            return spark.createDataFrame(pdf, schema=schema)
        return spark.createDataFrame(pdf)

    # Hard ceiling for the driver-side sqlite sink (VERDICT r5 item 7):
    # toPandas() below is the one collect-shaped surface in the package
    # whose size is caller-controlled, so without a bound a misrouted
    # big-table write becomes a silent driver OOM.  1M rows ≈ low hundreds
    # of MB for typical control-plane schemas — far past any legitimate
    # use of a single-file sqlite sink, far short of driver memory.
    SQLITE_MAX_ROWS = 1_000_000

    def _write_sqlite(self, df: DataFrame, url: EngineUrl, mode: str) -> None:
        import sqlite3

        table = self._sqlite_table(url)
        # limit(N+1).count() bounds the guard's own cost: a full count()
        # of a huge input would scan everything just to refuse it.
        probe = df.limit(self.SQLITE_MAX_ROWS + 1).count()
        if probe > self.SQLITE_MAX_ROWS:
            raise ValueError(
                f"sqlite:// sink is driver-side and capped at "
                f"{self.SQLITE_MAX_ROWS} rows; input exceeds it. "
                "Write parquet/csv instead for data-plane-sized results."
            )
        pdf = df.toPandas()  # driver-side: see contract above
        cols = ", ".join(f'"{c}"' for c in pdf.columns)
        ph = ", ".join("?" for _ in pdf.columns)
        with sqlite3.connect(url.path) as conn:
            if mode == "overwrite":
                conn.execute(f"DROP TABLE IF EXISTS {table}")
            col_defs = ", ".join(f'"{c}"' for c in pdf.columns)
            conn.execute(f"CREATE TABLE IF NOT EXISTS {table} ({col_defs})")
            conn.executemany(
                f"INSERT INTO {table} ({cols}) VALUES ({ph})",
                [
                    tuple(
                        None if (isinstance(v, float) and v != v) else v
                        for v in row
                    )
                    for row in pdf.itertuples(index=False, name=None)
                ],
            )
            conn.commit()


@dataclass
class MultiConnect:
    """Templated multi-dataset connector (the reference's
    ``MultiConnectorNewDataset``): ``new_dataset(subtask_id="a")`` yields a
    Connect bound to the expanded template; the growable list of created
    datasets is tracked. The scalable alternative for keyed outputs is a
    single ``partitionBy`` write — see Connect.write(partition_by=...)."""

    template: str
    access: AccessMode = AccessMode.WRITE
    datasets: list[Connect] = field(default_factory=list)

    def new_dataset(self, **params: str) -> Connect:
        url = self.template.format(**{**connector_resolver.mapping(), **params})
        c = Connect(engine_url=url, access=self.access)
        self.datasets.append(c)
        return c
