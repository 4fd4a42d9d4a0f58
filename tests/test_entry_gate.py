"""Runs every __spark_entry__ query against its DuckDB oracle at sf0.001 —
the same compare the driver's correctness gate performs (row count + column
names + order-insensitive value hash)."""

from __future__ import annotations

import pathlib
import sys

import duckdb
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from tools.check_entry import TABLES, value_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _entry_module():
    import __spark_entry__

    return __spark_entry__


@pytest.mark.parametrize("name", sorted(_entry_module().queries()))
def test_query_matches_oracle(spark, duck, name):
    mod = _entry_module()
    fn = mod.queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    oracle = mod.oracle_sql().get(name)
    assert oracle is not None
    ddf = duck.sql(oracle)
    drows = ddf.fetchall()
    assert sorted(sdf.columns) == sorted(list(ddf.columns))
    assert len(srows) == len(drows)
    assert value_hash(srows, sdf.columns) == value_hash(drows, list(ddf.columns))


def test_every_oracle_has_a_query():
    mod = _entry_module()
    assert set(mod.queries()) == set(mod.oracle_sql())


def test_registry_is_sorted():
    names = list(_entry_module().queries())
    assert names == sorted(names)


def test_entry_smoke(spark):
    mod = _entry_module()
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 3
