"""The status-store reader finds exchange and broadcast metrics behind AQE
query stages, on a tiny broadcast join feeding a shuffle aggregate.

Run from the checkout root: python3 -m pytest perfbench/test_sqlmetrics.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sqlmetrics import StatusStoreReader, parse_value  # noqa: E402


def test_parse_value_units_and_totals():
    assert parse_value("1,234") == 1234
    assert parse_value("2.1 s") == 2100
    assert parse_value("1832.0 B") == 1832
    assert parse_value("total (min, med, max (stageId: taskId))\n2.3 KiB (1200.0 B, 1200.0 B, 1200.0 B (stage 1.0: task 3))") \
        == pytest.approx(2.3 * 1024)
    assert parse_value(None) == 0.0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("test_sqlmetrics")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def test_broadcast_join_and_shuffle_aggregate_behind_aqe_stages(spark):
    from pyspark.sql import functions as F

    reader = StatusStoreReader(spark)
    since = reader.last_execution_id()
    facts = spark.range(20_000).withColumn("k", F.col("id") % 50)
    dims = spark.range(50).withColumnRenamed("id", "k").withColumn("g", F.col("k") % 7)
    out = facts.join(F.broadcast(dims), "k").groupBy("g").agg(F.sum("id").alias("s"))
    assert len(out.collect()) == 7

    m = reader.collect(since)
    assert m["broadcast.count"] == 1
    assert m["broadcast.rows"] == 50
    assert m["broadcast.collect_ms"] >= 0 and "broadcast.build_ms" in m
    assert m["exchange.bytes_written"] > 0
    assert m["spark.jobs"] >= 1 and m["spark.tasks"] >= 1
    # the partial aggregate reads every joined row; the final one its partials
    assert m["aggregate.rows_in"] >= 20_000
    assert m["max_join_rows"] == 20_000
    assert m.get("python_udf.ms", 0.0) == 0.0
