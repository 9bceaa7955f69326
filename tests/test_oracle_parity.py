"""Replicates the driver's correctness gate locally: run every
``queries()`` entry in Spark and its ``oracle_sql()`` twin in DuckDB on
the same parquet, then compare row count, column names, and
order-insensitive values EXACTLY (no tolerance — the engine's queries are
designed for cross-engine bit-equality; see testdata_queries docstring).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import types as T

from conftest import REPO_ROOT, SF_SMALL

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return value
    return value


def rows_to_multiset(cols, rows):
    """Sort columns by name (like the driver), normalize, return sorted rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


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
    # the result type belongs to the comparison: DuckDB's SUM over BIGINT
    # is HUGEINT, which reaches pandas as float64 and Arrow as decimal,
    # while Spark returns a long for the same column
    spark_types = {f.name: f.dataType for f in sdf.schema.fields}
    wide = [
        (c, str(t), spark_types[c].simpleString())
        for c, t in zip(duck_cols, res.types)
        if str(t).startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
        and not isinstance(spark_types[c], T.DecimalType)
    ]
    assert not wide, (
        f"{name}: oracle type wider than Spark's (col, duck, spark): {wide}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = rows_to_multiset(spark_cols, spark_rows)
    d = rows_to_multiset(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
