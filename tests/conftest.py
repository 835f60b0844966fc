from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_examples_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from streaming_examples_spark import load_tables

    return load_tables(spark, SF_DIR)
