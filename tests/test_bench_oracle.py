"""Fast oracle tier: every key the bench times is hash-checked against
its DuckDB oracle at sf0.001, with the comparison of
``tools/check_oracle.py`` (row count, column names, order-insensitive
value hash). A change that speeds a bench key up by changing its
result fails here, inside tier-1."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tgres_spark.measure import BENCH_QUERIES
from tools.check_oracle import compare, duck_connect, duck_rows


@pytest.fixture(scope="module")
def oracle():
    import __spark_entry__ as e

    con = duck_connect(SF_SMOKE)
    yield e.queries(), e.oracle_sql(), con
    con.close()


@pytest.mark.parametrize("key", BENCH_QUERIES)
def test_bench_key_matches_oracle(spark, oracle, key):
    qs, sqls, con = oracle
    try:
        sdf = qs[key](spark, SF_SMOKE)
        srows = [tuple(r) for r in sdf.collect()]
    finally:
        spark.catalog.clearCache()
    assert compare(sdf.columns, srows, *duck_rows(con, sqls[key])) == []
