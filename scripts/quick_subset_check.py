#!/usr/bin/env python3
"""Ad-hoc subset verifier: Spark-vs-DuckDB for named queries at a
given sf_dir, plus wall-clock per query (single pass).  Dev tool —
the committed artifacts come from correctness_full.py / bench.py.

Usage: python scripts/quick_subset_check.py sf_dir name1 name2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from correctness_full import duck_con, multiset, wide_types  # noqa: E402
from customer_360_etl_pipeline_on_azure_cloud_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(
        app_name="c360-subset-check",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out = {}
    for name in names:
        t0 = time.monotonic()
        sdf = queries[name](spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        dt = time.monotonic() - t0
        row = {"sec": round(dt, 3), "spark_rows": len(s_rows)}
        if name in oracles:
            con = duck_con(sf_dir)
            res = con.sql(oracles[name])
            d_cols = list(res.columns)
            d_rows = [tuple(r) for r in res.fetchall()]
            row["hash_match"] = (
                sorted(s_cols) == sorted(d_cols)
                and not wide_types(sdf, res)
                and multiset(s_cols, s_rows) == multiset(d_cols, d_rows)
            )
        out[name] = row
        print(json.dumps({name: row}), file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
