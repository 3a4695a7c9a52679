"""Plan counters read from a live local Spark session.

Run with ``python -m pytest perfbench/tests -q``; starts one ``local[1]``
session (about ten seconds).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

pyspark = pytest.importorskip("pyspark")

from tracing import plan_counters  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def test_checkpoint_scans_count_local_checkpoints_not_created_frames(spark):
    created = spark.createDataFrame([(i, i % 3) for i in range(50)], "k long, g long")
    cut = spark.range(100).withColumnRenamed("id", "k").localCheckpoint(eager=False)
    df = created.join(cut, "k")
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Both leaves are ``Scan ExistingRDD``; only one is a checkpoint.
    assert plan.count("Scan ExistingRDD") == 2
    assert plan_counters(df._jdf.queryExecution())["exec.checkpoint_scans"] == 1


def test_checkpoint_scans_are_zero_without_a_checkpoint(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").groupBy("v").count()
    df.write.format("noop").mode("overwrite").save()
    assert plan_counters(df._jdf.queryExecution())["exec.checkpoint_scans"] == 0
