from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from retail_sales_etl_pipeline_spark.session import get_spark  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Small shuffle-partition count: test tables are tiny and 200 (or even
    # 32) partitions would be pure scheduling overhead.
    return get_spark("tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def duck(tmp_path_factory):
    from tools.check_correctness import oracle_connection

    con = oracle_connection(SMOKE_SF_DIR, str(tmp_path_factory.mktemp("duckdb_spill")))
    yield con
    con.close()
