"""Scan/source operators (io.h) — Spark-native.

The reference reads whole files into vectors (io.h:21-62); the Spark form
is `spark.read.text` with positional predicates.  The binary uint16
record sink/scan (dna_benchmark.h:113-166) maps to parquet round-trips —
columnar encodings subsume the hand-rolled little-endian framing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def dense_row_ids(lines: DataFrame, out_col: str) -> DataFrame:
    """Dense 0..n-1 row ids in source order WITHOUT a global single-task
    window: per-partition counts roll up to per-partition offsets (one
    cheap pre-pass, like RDD.zipWithIndex), then a window partitioned by
    spark_partition_id ranks rows inside each partition in parallel.

    For a SINGLE input file the (partition id, in-partition position)
    order IS byte order, which is line order — so the assigned ids are
    independent of the split count (spark.sql.files.maxPartitionBytes);
    pinned by tests/test_dna_io.py.  Over a DIRECTORY of files Spark
    plans splits in size-sorted (not name-sorted) file order, so ids are
    dense and deterministic per plan but do not follow file-name order;
    sort by input_file_name() first if that ordering matters.
    """
    tagged = lines.select(
        "*",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    counts = (
        tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy("_pid")
        .collect()
    )
    offsets, off = [], 0
    for r in counts:
        offsets.append((int(r["_pid"]), off))
        off += int(r["_cnt"])
    spark = lines.sparkSession
    odf = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_mid")
    return (
        tagged.join(F.broadcast(odf), "_pid")
        .withColumn(out_col, (F.row_number().over(w) - 1 + F.col("_off")).cast("long"))
        .drop("_pid", "_mid", "_off")
    )


def documents_from_text(spark: SparkSession, path: str) -> DataFrame:
    """One doc per line with a stable 0-based label — the Spark form of
    get_document_from_file (io.h:21-38) + label assignment
    (dna_benchmark.h:488).  Ids come from dense_row_ids: partition-parallel,
    no whole-dataset funnel through one task."""
    lines = spark.read.text(path)
    return dense_row_ids(lines, "doc_id").select(
        "doc_id", F.col("value").alias("text")
    )


def reads_from_fastq(spark: SparkSession, path: str) -> DataFrame:
    """FASTQ scan: keep sequence lines (line index % 4 == 1) — the Spark
    form of get_document_from_fastq_file (io.h:48-62)."""
    lines = spark.read.text(path)
    indexed = dense_row_ids(lines, "_line")
    seqs = indexed.filter(F.col("_line") % 4 == 1)
    return seqs.select(
        ((F.col("_line") - 1) / 4).cast("long").alias("read_id"),
        F.col("value").alias("seq"),
    )

