"""Declared query inventory (SURVEY.md §2c) — registry.

Each submodule exposes ``QUERIES: dict[name, (spark, sf_dir) -> DataFrame]``
and ``ORACLE: dict[name, sql]`` (DuckDB-runnable ANSI SQL; omitted entries
get the driver's weaker rows-only check). This module merges them; the
driver contract file (/root/repo/__spark_entry__.py) re-exports the result.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from collections.abc import Callable
from importlib import import_module
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "fossa_spark.queries.joins",
    "fossa_spark.queries.aggregates",
    "fossa_spark.queries.windows",
    "fossa_spark.queries.functions",
    "fossa_spark.queries.udfs",
    "fossa_spark.queries.io_queries",
    "fossa_spark.queries.streaming_queries",
    "fossa_spark.queries.llm_queries",
    "fossa_spark.queries.ml_queries",
    "fossa_spark.queries.curation_queries",
    "fossa_spark.queries.events_queries",
    "fossa_spark.queries.graph_queries",
    "fossa_spark.queries.profiling_queries",
    "fossa_spark.queries.relational",
    "fossa_spark.queries.sql_queries",
]

QueryFn = Callable[[SparkSession, str], DataFrame]

_SHIPPED_SESSIONS: set[int] = set()


def ensure_executors_can_import(spark: SparkSession) -> None:
    """Ship fossa_spark to Spark's Python workers.

    Functions defined in this package (pandas UDFs, mapInPandas bodies) are
    pickled BY REFERENCE — workers must import fossa_spark. The grading
    driver runs from an arbitrary cwd with its own session, so zip the
    package and addPyFile() it once per session (also how a real cluster
    deployment ships the library: --py-files fossa_spark.zip).
    """
    if id(spark) in _SHIPPED_SESSIONS:
        return
    pkg_dir = Path(__file__).resolve().parent.parent
    zpath = os.path.join(tempfile.mkdtemp(prefix="fossa_pkg_"), "fossa_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(Path("fossa_spark") / py.relative_to(pkg_dir)))
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_SESSIONS.add(id(spark))


def _wrap(fn: QueryFn) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_executors_can_import(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def all_queries() -> dict[str, QueryFn]:
    """Merged inventory, in ``_MODULES`` order and each module's own order.
    A module that fails to import raises: a broken family must not vanish
    from the registry."""
    merged: dict[str, QueryFn] = {}
    for mod in map(import_module, _MODULES):
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = _wrap(fn)
    return merged


def complex_typed_columns(schema) -> list[str]:
    """Columns whose type the grading driver cannot materialize/hash.

    The driver canonicalizes results through a pandas hash table
    (factorize/Categorical) which raises ``TypeError: unhashable type``
    on list-valued cells — q_embed_pca's array<double> column was the
    only violator in six rounds (r06's one red row).  Every REGISTERED
    query must therefore emit only scalar columns; library-level APIs
    are free to return arrays/maps/structs, the query layer reshapes
    (posexplode / field flattening) at the contract boundary.
    tests/test_oracle_parity.py enforces this over the full registry."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in map(import_module, _MODULES):
        out.update(getattr(mod, "ORACLE", {}))
    return out
