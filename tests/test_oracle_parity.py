"""Replicates the driver's correctness gate locally: run every
``queries()`` entry in Spark and its ``oracle_sql()`` twin in DuckDB on
the same parquet, then compare row count, column names, and
order-insensitive values EXACTLY (no tolerance — the engine's queries are
designed for cross-engine bit-equality; see testdata_queries docstring).
"""

from __future__ import annotations

import pytest

from conftest import SF_SMALL

import __spark_entry__ as entrymod
from correctness_full import duck_con, multiset, wide_types


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_oracle(spark, name):
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]

    sdf = qfn(spark, SF_SMALL)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(SF_SMALL)
    res = con.sql(sql)
    duck_cols = list(res.columns)
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    wide = wide_types(sdf, res)
    assert not wide, (
        f"{name}: oracle type wider than Spark's (col, duck, spark): {wide}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = multiset(spark_cols, spark_rows)
    d = multiset(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
