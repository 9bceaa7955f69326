from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from customer_360_etl_pipeline_on_azure_cloud_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # managed tables go to a session temp dir, not the working directory
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    spark = get_spark(
        app_name="c360-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": str(warehouse),
        },
    )
    yield spark
