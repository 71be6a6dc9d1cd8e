import os

import pytest
from pyspark.sql import SparkSession

#: root of the reference implementation's checkout (its test_support
#: fixtures and translation maps): a ``reference`` directory beside this
#: checkout unless TRAJECT_REFERENCE_ROOT names another
REFERENCE_ROOT = os.environ.get("TRAJECT_REFERENCE_ROOT") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
)
REFERENCE_SUPPORT = os.path.join(REFERENCE_ROOT, "test", "test_support")


@pytest.fixture(scope="session")
def reference_tree() -> str:
    """REFERENCE_ROOT, for the tests that read the reference tree; they
    fail with one line, not a Java stack trace, when it is missing."""
    if not os.path.isdir(REFERENCE_ROOT):
        pytest.fail(f"reference tree missing at {REFERENCE_ROOT}", pytrace=False)
    return REFERENCE_ROOT


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("traject_spark-tests")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()
