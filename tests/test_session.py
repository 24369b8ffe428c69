"""session.get_spark: a running session is returned as it is."""

from etl_market_survey_spark.session import get_spark

_PARTITIONS = "spark.sql.shuffle.partitions"
_ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def test_get_spark_keeps_running_session_confs(spark):
    old = {k: spark.conf.get(k) for k in (_PARTITIONS, _ARROW)}
    spark.conf.set(_PARTITIONS, "4")
    spark.conf.set(_ARROW, "false")
    try:
        got = get_spark()
        for s in (got, spark):
            assert s.conf.get(_PARTITIONS) == "4"
            assert s.conf.get(_ARROW) == "false"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
