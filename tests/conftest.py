import pathlib

import pytest

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


@pytest.fixture(scope="session")
def spark():
    import os

    from pyspark.sql import SparkSession

    from steampipe_plugin_terraform_spark.session import DAEMON_MODULE, create

    # one BLAS thread per Python worker (see session.get_spark): must be
    # in the env before the JVM launches so worker daemons inherit it
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # the JVM starts from the same class-data-sharing archive as get_spark's
    spark = create(
        SparkSession.builder.appName("tf-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python tasks fork from the same worker daemon as get_spark's
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.ui.enabled", "false"),
        "4g",
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES
