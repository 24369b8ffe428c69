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


@pytest.fixture
def held_cache(spark):
    """``held_cache()`` -> ``(cache manager empty, RDDs holding blocks)``:
    the cached frames and local checkpoints the session holds. The
    fixture first frees (blocking) whatever earlier tests left held, so
    the count starts at 0 and anything held later is the tested code's."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)

    def held():
        return (
            spark._jsparkSession.sharedState().cacheManager().isEmpty(),
            len(jsc.sc().getRDDStorageInfo()),
        )

    return held


@pytest.fixture
def merge_source(spark):
    """``merge_source(n, coin=False)`` -> ``(frame, accumulator)``: a
    ``(k long, pr string, tp double)`` row-level write source of ``n``
    rows, ``pr`` 'MERGED' and ``tp`` = 2k. Key i is 2i, produced by a
    Python UDF that adds 1 to the accumulator for each row it
    evaluates. With ``coin=True`` key i is 2i + a random bit from a
    UDF marked non-deterministic, so two evaluations of the frame
    disagree on its keys (but never repeat a key within one)."""
    from pyspark.sql import functions as F

    def make(n, coin=False):
        acc = spark.sparkContext.accumulator(0)

        def key(i):
            import random

            acc.add(1)
            return 2 * i + (random.getrandbits(1) if coin else 0)

        key_udf = F.udf(key, "long")
        if coin:
            key_udf = key_udf.asNondeterministic()
        df = spark.range(n).select(key_udf("id").alias("k")).select(
            "k", F.lit("MERGED").alias("pr"), (F.col("k") * 2.0).alias("tp")
        )
        return df, acc

    return make
