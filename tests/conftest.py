from __future__ import annotations

import pytest

from pg2parquet_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
# the corpus the committed ann_recall_eval floor values were measured on —
# the floors test must track this constant, never an inline literal
SF_RECALL = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pg2parquet_spark_tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
