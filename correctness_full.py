#!/usr/bin/env python3
"""Full-registry correctness artifact (ADVICE r4 item 2).

The external driver's gate records only the first 50 registered queries;
this script replicates the same Spark-vs-DuckDB comparison over ALL
registered queries and writes ``CORRECTNESS_FULL_local.json`` in the
driver-artifact row shape, so the "100/100" claim is reproducible from a
committed file rather than a notes assertion.

Usage: python correctness_full.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from customer_360_etl_pipeline_on_azure_cloud_spark.session import get_spark  # noqa: E402

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


def multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(normalize(r[i]) for i in order) for r in rows), key=repr
    )


def wide_types(sdf, res) -> list[tuple[str, str, str]]:
    """``(column, DuckDB type, Spark type)`` for each oracle column whose
    type is wider than Spark's (the column names must already match).

    The result type belongs to the comparison: DuckDB's SUM over BIGINT
    is HUGEINT, which reaches pandas as float64 and Arrow as decimal,
    while Spark returns a long for the same column — the Python ints
    compared by :func:`multiset` would hide the difference."""
    spark_types = {f.name: f.dataType for f in sdf.schema.fields}
    return [
        (c, str(t), spark_types[c].simpleString())
        for c, t in zip(res.columns, res.types)
        if str(t).startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
        and not isinstance(spark_types[c], T.DecimalType)
    ]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        app_name="c360-correctness-full",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out: dict[str, dict] = {}
    for name in queries:
        row = {
            "rows_match": False,
            "schema_match": False,
            "types_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = queries[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            row["spark_rows"] = len(s_rows)
            if name not in oracles:
                # rows-only check (driver's weaker path for non-SQL ops)
                row["rows_match"] = True
                row["err"] = "no oracle registered (rows-only)"
                out[name] = row
                continue
            con = duck_con(sf_dir)
            res = con.sql(oracles[name])
            d_cols = list(res.columns)
            d_rows = [tuple(r) for r in res.fetchall()]
            row["oracle_rows"] = len(d_rows)
            row["rows_match"] = len(s_rows) == len(d_rows)
            row["schema_match"] = sorted(s_cols) == sorted(d_cols)
            row["types_match"] = row["schema_match"] and not wide_types(
                sdf, res
            )
            row["hash_match"] = row["types_match"] and multiset(
                s_cols, s_rows
            ) == multiset(d_cols, d_rows)
        except Exception as exc:  # noqa: BLE001
            row["err"] = f"{type(exc).__name__}: {exc}"[:300]
        out[name] = row
        flag = "ok" if row["hash_match"] else "FAIL"
        print(f"{flag:4s} {name}", file=sys.stderr)

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    fname = (
        "CORRECTNESS_FULL_local.json"
        if sf_tag == "sf0.01"
        else f"CORRECTNESS_FULL_{sf_tag}_local.json"
    )
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    n_ok = sum(1 for r in out.values() if r["hash_match"])
    print(json.dumps({"total": len(out), "hash_match": n_ok, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
