"""util.fan_out: repartition only single-partition plain scans."""

from pyspark.sql import functions as F

from lshdedup.util import _is_plain_scan, fan_out


def test_fan_out_spreads_single_file_scan(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert _is_plain_scan(df)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism == 8


def test_fan_out_leaves_wide_plans_alone(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    agg = df.groupBy("k").count()
    joined = df.join(agg, "k")
    for wide in (agg, joined):
        assert not _is_plain_scan(wide)
        assert fan_out(wide) is wide
