import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[16]")
        .appName("etl-market-survey-spark-tests")
        # keep the pre-local[16] defaults for anything partition-count
        # sensitive: shuffles and parallelize() stay at 4 partitions, the
        # extra cores only drain multi-partition stages faster.
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # 16 concurrent task threads share the one local-mode JVM heap;
        # the 1g default OOMs (engine sessions run 16g — session.py)
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(group, fn)`` -> ``(fn(), number of Spark jobs it ran)``,
    counted in a job group through the status tracker once the listener
    bus has drained."""

    def count(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
