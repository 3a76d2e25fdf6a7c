import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder
             .master("local[4]")
             .appName("edspdf-spark-tests")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "4g")
             .getOrCreate())
    yield spark
    spark.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "requires_reference(*paths): skip, naming the first "
        "missing path, when a file of the reference checkout is absent")


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    for mark in item.iter_markers("requires_reference"):
        for path in mark.args:
            if not os.path.exists(path):
                pytest.skip(f"missing {path}")
