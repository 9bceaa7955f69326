"""The Python workers import nothing from the driver's ``sys.path``.

A driver that puts the repo on ``sys.path`` itself, from another working
directory and with ``PYTHONPATH`` unset, must still run operators whose
UDF closures reference package-level helpers.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from conftest import REPO_ROOT

SCRIPT = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        kmeans_distributed,
        pq_topk,
    )

    rows = [
        (i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)]) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert kmeans_distributed(df, k=2, iters=1).shape == (2, 4)
    top = pq_topk(df, df.filter("vec_id < 2"), k=2, m=2, ksub=2).collect()
    assert len(top) == 4, top
    spark.stop()
    """
)


def test_workers_import_package_without_pythonpath(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(SCRIPT.format(repo=REPO_ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
