"""Pandas-dtype parity of every oracle-checked query vs DuckDB.

The correctness gate compares *materialized* results, and pandas is where
both engines' outputs meet.  Identical values can still materialize at
different dtypes — DuckDB SUM(BIGINT) widens to HUGEINT and lands as
float64, window ranks differ int32/int64, DATE arrives as object on one
side and datetime64 on the other — and a value-hash over those
representations diverges even when every cell is equal.  This test pins
dtype-level agreement at sf0.001 so a representational regression fails
CI before it fails the gate.  One test per query, so a mismatch names its
query and hides no other, and ``--durations`` prices each row.
"""

from __future__ import annotations

import pytest

from killrweather_spark.api.inventory import REGISTRY
from tests.conftest import SF001
from tests.oracle_harness import duck_connection


@pytest.fixture(scope="module")
def oracle_sf001():
    con = duck_connection(SF001)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", [n for n, spec in REGISTRY.items() if spec.sql is not None]
)
def test_all_query_outputs_materialize_at_identical_dtypes(
    spark, oracle_sf001, name
):
    spec = REGISTRY[name]
    sdt = dict(spec.fn(spark, SF001).toPandas().dtypes.astype(str))
    odt = dict(oracle_sf001.execute(spec.sql).df().dtypes.astype(str))
    d = {
        c: (sdt.get(c), odt.get(c))
        for c in set(sdt) | set(odt)
        if sdt.get(c) != odt.get(c)
    }
    assert not d, f"{name} dtype mismatches vs oracle: {d}"
