"""get_spark() session defaults."""


def test_dataframe_debugging_is_off(spark):
    """pyspark 4.1 records a call site per Column-API call unless this
    is off: ~5 extra py4j round trips each, ~600 per Delta MERGE."""
    from pyspark.errors.utils import is_debugging_enabled

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    assert is_debugging_enabled() is False
