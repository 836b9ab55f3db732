"""SparkSession builder tuned for this engine.

Defaults chosen for the 100 TB design point, testable on local[N]:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every hot UDF is
a pandas UDF), modest Arrow batch size (signature math materializes
(block × total_chars) matrices per batch — see hashing.minhash_segments).

With ``master=None`` under spark-submit (``PYSPARK_GATEWAY_PORT`` set: the
driver JVM is already running) no master is set, so spark-submit's
``--master`` applies; otherwise it defaults to ``$LSHDEDUP_MASTER`` or
``local[*]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lshdedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 2048,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if not master and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = os.environ.get("LSHDEDUP_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master and master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 8)
        else:
            shuffle_partitions = cores
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.driver.memory", os.environ.get("LSHDEDUP_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for key, val in (extra or {}).items():
        builder = builder.config(key, val)
    return builder.getOrCreate()
