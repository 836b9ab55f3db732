"""util.fan_out: repartition only single-partition plain scans;
util.persist_stage: a persist() with the cached-plan setting scoped to it."""

import pytest
from pyspark.sql import functions as F

from lshdedup.util import _CACHED_REPARTITION, _is_plain_scan, fan_out, persist_stage


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


@pytest.mark.parametrize("before", [None, "false", "true"])
def test_persist_stage_restores_setting(spark, monkeypatch, before):
    """persist_stage switches the cached-plan repartitioning setting on for
    its persist() call only: the session reads the same before and after,
    unset staying unset, also when persist() raises."""
    conf = spark.conf
    saved = conf.get(_CACHED_REPARTITION, None)

    def reset(value):
        if value is None:
            conf.unset(_CACHED_REPARTITION)
        else:
            conf.set(_CACHED_REPARTITION, value)

    reset(before)
    try:
        out = persist_stage(spark.range(10))
        assert out.is_cached
        assert conf.get(_CACHED_REPARTITION, None) == before
        out.unpersist()

        seen = []

        def failing_persist(df, *args, **kwargs):
            seen.append(conf.get(_CACHED_REPARTITION, None))
            raise RuntimeError("persist failed")

        df = spark.range(11)
        monkeypatch.setattr(type(df), "persist", failing_persist)
        with pytest.raises(RuntimeError, match="persist failed"):
            persist_stage(df)
        assert seen == ["true"]
        assert conf.get(_CACHED_REPARTITION, None) == before
    finally:
        reset(saved)
