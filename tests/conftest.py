import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_toolkit_spark.runtime import tune_malloc  # noqa: E402

tune_malloc()

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("parquet_toolkit_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


def _with_encode_constant_at_zero(name, test):
    """`test` run with the crossover constant `encode.<name>` at 0."""
    @functools.wraps(test)
    def at_zero(*args, **kwargs):
        from parquet_toolkit_spark.operators import encode

        saved = getattr(encode, name)
        setattr(encode, name, 0)
        try:
            return test(*args, **kwargs)
        finally:
            setattr(encode, name, saved)
    return at_zero


def on_wide_lookup_path(test):
    """`test` run with decode_where's driver crossover at 0, so every
    lookup takes the wide (striped-task) path. A module binds it to a
    second name, `test_x_wide = on_wide_lookup_path(test_x)`, so the same
    body checks both paths: `test_x` itself runs the small lookups of a
    test store on the driver."""
    return _with_encode_constant_at_zero("_DRIVER_LOOKUP_BYTES", test)


def on_spark_layout_path(test):
    """`test` run with layout_stage's in-process crossover at 0, so every
    layout takes the Spark path. Bound to a second name,
    `test_x_spark = on_spark_layout_path(test_x)`, like
    on_wide_lookup_path: `test_x` itself lays out a small parquet scan
    in this process."""
    return _with_encode_constant_at_zero("_ARROW_LAYOUT_BYTES", test)
