"""Every registered query must match its DuckDB oracle at sf0.001.

This is a local replica of the driver's CORRECTNESS gate (which runs at
sf0.01); sf0.001 keeps the suite fast while exercising identical code.
Queries without an oracle get a rows-only smoke check.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duck_connection


def _all_queries():
    from level2_to_cassandra_spark.registry import all_queries

    return all_queries()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


def pytest_generate_tests(metafunc):
    if "query_name" in metafunc.fixturenames:
        metafunc.parametrize("query_name", sorted(_all_queries()))


def test_query_matches_oracle(spark, duck, query_name):
    q = _all_queries()[query_name]
    df = q.fn(spark, SF_SMOKE)
    # Driver harness canonicalizes via pandas sort_values, which dies on
    # list/dict cells — complex top-level columns record an `err` even
    # for rows-only checks (round-3 q_multimodal_features lesson).
    from pyspark.sql import types as T

    for f in df.schema.fields:
        assert not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType)
        ), (
            f"{query_name}.{f.name} is {f.dataType.simpleString()}: emit "
            "to_json(...) or per-element scalars — the driver canonicalizer "
            "cannot sort complex cells"
        )
    if q.oracle is None:
        assert df.count() >= 0  # rows-only smoke: evaluates the plan
    else:
        compare(df, duck, q.oracle)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert callable(next(iter(qs.values())))


def test_oracle_connection_is_bounded(duck):
    # A runaway oracle must fail with a DuckDB error, not grow until the
    # OOM killer takes down pytest and its JVM.
    import tempfile

    limit, spill, spill_dir = duck.sql(
        "SELECT current_setting('memory_limit'), "
        "current_setting('max_temp_directory_size'), "
        "current_setting('temp_directory')").fetchone()
    assert (limit, spill) == ("3.7 GiB", "7.4 GiB")
    assert spill_dir.startswith(tempfile.gettempdir())
