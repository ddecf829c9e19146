from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = "/root/reference/spec/test-files"
SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def explain_str(df) -> str:
    """Formatted plan as a string (for plan-assertion tests)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="session")
def spark():
    from json_ld_spark.plans.session import build_session

    spark = build_session(app_name="json-ld-spark-tests", cpus=4, shuffle_partitions=8)
    yield spark
    spark.stop()
