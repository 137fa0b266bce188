from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# 4 cores, not 8/32: the suite is tiny-data and driver/JVM-bound —
# more cores only add task-scheduling overhead. Measured on a 32-core
# machine (same subset, same session count): 32c=407s, 16c=229s,
# 8c=182s, 4c=136s. Assigned, not defaulted: the gate command exports
# SPARK_GRAFT_CPUS=$(nproc), which would otherwise win.
os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 4))


@pytest.fixture(scope="session")
def spark():
    from pyairbyte_spark import get_spark

    spark = get_spark(
        "pyairbyte-spark-tests",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield spark
    spark.stop()


@pytest.fixture()
def cache(spark, tmp_path):
    from pyairbyte_spark import SparkCache

    return SparkCache(spark, str(tmp_path / "warehouse"))


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"
