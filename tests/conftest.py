import contextlib
import uuid

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("erased-cells-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def spark_jobs(spark):
    """Counts the Spark jobs a block runs: `with spark_jobs() as jobs: ...`
    tags the block with its own job group; after the block, `len(jobs)` is
    the number of jobs that group ran."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"jobs-{uuid.uuid4().hex}"
        ids: list = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setJobGroup(None, None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return count
