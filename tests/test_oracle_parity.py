"""Tier-1 correctness: every declared query with an oracle must match DuckDB
exactly (column names, row count, canonicalized values) — a local replica of
the driver's CORRECTNESS gate. Queries without an oracle entry get a
rows-and-schema smoke check.

Run at sf0.001 by default (fast inner loop); set FOSSA_TEST_SF_DIR to
/root/testdata/sf0.01 for the driver-equivalent scale.
"""

from __future__ import annotations

import pytest

from fossa_spark.queries import all_oracles, all_queries, complex_typed_columns
from tests.conftest import SF_DIR, assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_parity(name, spark, oracle):
    df = _QUERIES[name](spark, SF_DIR)
    # Contract-boundary guard (r06's only red row): the driver's
    # materialization hashes cells through pandas factorize, which raises
    # on list-valued cells — every registered query must emit only scalar
    # columns (library APIs may return arrays; the query layer reshapes).
    bad = complex_typed_columns(df.schema)
    assert not bad, (
        f"{name}: complex-typed output columns {bad} — the driver cannot "
        "hash these; posexplode/flatten at the query layer"
    )
    # Full-registry scale-smell sweep (VERDICT r6 item 7): every
    # registered plan is linted for 100 TB anti-patterns; a finding must
    # be justified in plans.ACCEPTED_SMELLS (boundedness BY CONSTRUCTION)
    # or it fails here and in tools/lint_plans.py.  Two explains per
    # query — no execution cost beyond the parity run itself.
    from fossa_spark.plans import unaccepted_smells

    smells = unaccepted_smells(name, df)
    assert not smells, (
        f"{name}: unaccepted scale smells {smells} — fix the plan or "
        "justify it in fossa_spark.plans.ACCEPTED_SMELLS"
    )
    if name in _ORACLES:
        assert_parity(df, oracle, _ORACLES[name], name=name)
    else:
        rows = df.collect()
        assert df.columns, f"{name}: empty schema"
        assert len(rows) >= 0  # materializes without error


def test_complex_type_guard_rejects_arrays(spark):
    """The guard itself must catch the r06 failure shape (array column)."""
    from pyspark.sql import functions as F

    df = spark.range(3).select("id", F.array(F.lit(1.0), F.lit(2.0)).alias("v"))
    assert complex_typed_columns(df.schema) == ["v"]
    assert complex_typed_columns(df.select("id").schema) == []


def test_oracles_have_queries():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracle entries without a query: {missing}"


def test_registry_is_plain_module_order():
    """all_queries() lists each module's QUERIES in _MODULES order and in
    the module's own order — nothing in the checkout reorders it."""
    from importlib import import_module

    from fossa_spark.queries import _MODULES

    expected = [n for m in _MODULES for n in import_module(m).QUERIES]
    assert list(all_queries()) == expected


def test_broken_query_module_raises(monkeypatch):
    """A query module whose import fails must fail the registry, not
    silently drop its whole family (queries and oracles alike)."""
    import fossa_spark.queries as q

    monkeypatch.setattr(
        q, "_MODULES", q._MODULES + ["fossa_spark.queries._no_such_family"]
    )
    with pytest.raises(ModuleNotFoundError):
        q.all_queries()
    with pytest.raises(ModuleNotFoundError):
        q.all_oracles()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_fn_xml_fixture_premises():
    """q_fn_xml's oracle parity rests on two fixture properties (see its
    docstring): XML-safe text and regular spacing.  Pin both so a
    regenerated fixture that violates them fails HERE with a message,
    not as an opaque driver hash mismatch."""
    import duckdb

    from tests.conftest import SF_DIR

    bad = duckdb.sql(
        f"""
        SELECT COUNT(*) FROM read_parquet('{SF_DIR}/documents.parquet')
        WHERE doc_id < 100 AND (
          text LIKE '%&%' OR text LIKE '%<%' OR text LIKE '%>%'
          OR text LIKE ' %' OR text LIKE '% ' OR text LIKE '%  %'
          OR text = ''
        )
        """
    ).fetchone()[0]
    assert bad == 0, (
        f"{bad} documents violate q_fn_xml's XML-safety/regular-spacing "
        "premises — adjust the query (derive first_word from the parsed "
        "array) before trusting its oracle"
    )
