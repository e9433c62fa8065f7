"""Replica of the driver's correctness gate at sf0.001 (fast).

Every queries() entry runs on Spark and its oracle on DuckDB; row counts,
sorted column names, and order-insensitive value hashes must match.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _catalog():
    import __spark_entry__ as entry_mod

    return entry_mod.queries(), entry_mod.oracle_sql()


QUERIES, ORACLES = _catalog()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    from tools.check import value_hash

    sdf = QUERIES[name](spark, SF_SMALL).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(odf), f"row count {len(sdf)} != {len(odf)}"
    assert sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
    assert value_hash(sdf) == value_hash(odf)
