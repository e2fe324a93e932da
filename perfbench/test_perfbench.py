"""Tests of the benchmark's own instruments.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import procstat  # noqa: E402
import tracing  # noqa: E402


def test_tree_cpu_counts_reaped_children():
    before = procstat.tree_cpu(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert (procstat.tree_cpu(os.getpid()) - before).python_s >= 0.25


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield session
    session.stop()


def _jvm_pid(spark) -> int:
    jvm = spark.sparkContext._jvm
    return int(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName().split("@")[0])


def test_pandas_udf_operation_reports_python_cpu(spark):
    from pyspark.sql import functions as F

    import workloads

    @F.pandas_udf("double")
    def burn(v):
        return v.apply(lambda x: float(sum(i * i for i in range(3000))))

    df = spark.range(0, 20_000, numPartitions=2).select(burn(F.col("id").cast("double")).alias("x"))
    layers = workloads.Layers(spark, tracing.Tracer(enabled=True), _jvm_pid(spark))
    layers.sink(df)
    assert layers.acc["exec.python_cpu_s"] > 0
    assert tracing.plan_fingerprint(df)["plan.python_eval"] == 1


def test_fingerprint_counts_cogroup(spark):
    left = spark.range(100).selectExpr("id % 7 AS k", "id AS v")
    right = spark.range(50).selectExpr("id % 7 AS k", "id AS w")
    df = (
        left.groupBy("k")
        .cogroup(right.groupBy("k"))
        .applyInPandas(lambda a, b: a.head(1), "k long, v long")
    )
    fp = tracing.plan_fingerprint(df)
    assert fp["plan.python_eval"] == 1
    assert fp["plan.shuffle_exchanges"] == 2


def test_py4j_counter_counts_round_trips(spark):
    counter = tracing.Py4jCounter(spark)
    try:
        spark.sparkContext._jvm.java.lang.System.nanoTime()
        spark.sparkContext._jvm.java.lang.System.nanoTime()
    finally:
        counter.close()
    # each call resolves the class path and then invokes the method
    assert counter.calls >= 2
