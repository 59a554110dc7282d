"""get_spark() session defaults."""


def test_dataframe_debugging_is_off(spark):
    """pyspark 4.1 records a call site per Column-API call unless this
    is off: ~5 extra py4j round trips each, ~600 per Delta MERGE."""
    from pyspark.errors.utils import is_debugging_enabled

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    assert is_debugging_enabled() is False


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    """A script that puts the checkout on its own ``sys.path`` and runs
    from another directory, with no ``PYTHONPATH``, can still run an
    operation whose Python workers import the package (``delete_where``
    encodes its deletion vectors in ``applyInPandas``)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from featureform_spark.session import get_spark
from featureform_spark.sources.delta_protocol import DeltaProtocolTable
spark = get_spark("worker_path", shuffle_partitions=2)
t = DeltaProtocolTable(spark, {str(tmp_path / "t")!r})
t.create(spark.range(100).withColumnRenamed("id", "k").repartition(2))
print("rows_deleted", t.delete_where("k % 7 = 0")["rows_deleted"])
"""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "rows_deleted 15" in out.stdout, out.stderr[-3000:]
