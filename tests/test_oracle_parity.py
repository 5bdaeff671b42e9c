"""Every registered query must match its DuckDB oracle exactly —
this mirrors the driver's t2 correctness gate (row count + schema +
order-insensitive value hash) at sf0.001 so regressions surface
locally.
"""

from __future__ import annotations

import pytest

from http_datafusion_spark.plans.compare import compare_query, duckdb_connection
from http_datafusion_spark.plans.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, con, name):
    spec = QUERIES[name]
    res = compare_query(spark, spec, sf_dir, con=con)
    assert res.ok, f"{name}: {res.detail}"
    if spec.oracle is not None:
        assert res.exact, f"{name}: inexact float match — tighten rounding: {res.detail}"
        assert res.rows_spark > 0, f"{name}: empty result — weak test"
