"""Streaming incremental dedup — Structured Streaming form of the
reference's one online operator, LSH::query_then_insert (lsh.h:126-144):
each arriving document is matched against everything inserted before it,
then inserted.

The reference's README lists streaming persistence as unimplemented
(README.md:49-52); here it is a foreachBatch sink built from the batch
layers.  Micro-batch N
  1. signs its rows (``add_signatures``, the fused shingle+minhash UDF),
  2. finds candidates within the batch (``candidate_pairs``) and against
     every earlier document (``query_candidates`` over band rows rebuilt
     from the stored signatures by ``explode_bands``),
  3. verifies them with ``verify_pairs``, so ``cfg.verify_mode`` applies
     exactly as in ``dedup_pipeline``,
  4. writes its dup pairs and its signed rows: ``(id, text, sig)``, plus
     ``simhash`` when verify reads it.

State layout: two parquet stores under ``state_dir``, both keyed by batch,
``dup_pairs/batch_id=N`` and ``docs/batch_id=N``.  Batch N reads ``docs``
filtered to ``batch_id < N`` (a partition filter), so every batch scans
the docs of all earlier batches and rebuilds their band rows.

Replay rule: batch N writes only its own two partitions, each with
``overwrite``, and then its done marker.  A replay of N after a crash at
any point rewrites both partitions and never reads its own half-written
rows, so it leaves the state an uncrashed run would; a done batch replays
as a no-op.  Every ``compact_every`` batches the docs store is rewritten
as one partition labelled with the last batch it covers; ``dup_pairs`` is
not compacted.  On a real cluster these are Iceberg tables partitioned the
same way, and compaction is Iceberg's rewrite_data_files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from lshdedup.config import DedupConfig
from lshdedup.lsh import candidate_pairs, explode_bands, query_candidates
from lshdedup.minhash import add_signatures
from lshdedup.util import persist_stage
from lshdedup.verify import verify_pairs


class StreamingDedup:
    """foreachBatch processor maintaining batch-keyed doc/dup-pair state."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        state_dir: str,
        id_col: str = "image_id",
        text_col: str = "caption",
        compact_every: int = 16,
    ):
        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir
        self.id_col = id_col
        self.text_col = text_col
        self.compact_every = compact_every
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.state_dir, *parts)

    def _read_state(self, name: str, schema: StructType | None = None) -> DataFrame | None:
        """The store, or None when it does not exist.  A store that exists
        but cannot be read raises: reading it as empty would miss dups."""
        path = self._path(name)
        # crash recovery: a compaction interrupted between renames leaves
        # the previous store at <name>_old — restore it
        old = path + "_old"
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        if not os.path.exists(path):
            return None
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def _batch_done(self, batch_id: int) -> bool:
        return os.path.exists(self._path(f"_batch_{batch_id}_done"))

    def _mark_done(self, batch_id: int) -> None:
        open(self._path(f"_batch_{batch_id}_done"), "w").close()

    def _maybe_compact(self, batch_id: int, schema: StructType) -> None:
        """Rewrite the docs store (read with ``schema``, so no inference
        job runs) as the one partition ``batch_id=N`` (N the last batch it
        covers), in at most one file per core.  Crash-safe: written to a
        temp dir, then swapped in with two renames (recovery in
        _read_state)."""
        if self.compact_every <= 0 or (batch_id + 1) % self.compact_every:
            return
        df = self._read_state("docs", schema)
        path = self._path("docs")
        tmp, old = path + "_tmp", path + "_old"
        for p in (tmp, old):
            if os.path.exists(p):
                shutil.rmtree(p)
        (
            df.drop("batch_id")
            .coalesce(self.spark.sparkContext.defaultParallelism)
            .write.parquet(os.path.join(tmp, f"batch_id={batch_id}"))
        )
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._batch_done(batch_id):
            return
        cfg, idc, txt = self.cfg, self.id_col, self.text_col
        signed = persist_stage(
            add_signatures(batch.select(idc, txt), cfg, text_col=txt, phash_col=None)
        )
        persisted = [signed]
        bands = explode_bands(signed, idc, "sig", cfg)
        cands, _ = candidate_pairs(bands, idc, cfg)
        docs = signed
        docs_schema = StructType(signed.schema.fields + [StructField("batch_id", LongType())])
        store = self._read_state("docs", docs_schema)
        if store is not None:
            prior = store.filter(F.col("batch_id") < batch_id).drop("batch_id")
            cands = cands.unionByName(query_candidates(
                bands.withColumnRenamed(idc, "id_a"),
                explode_bands(prior, idc, "sig", cfg).withColumnRenamed(idc, "id_b"),
                "id_a", "id_b",
            ))
            docs = signed.unionByName(prior)
        # is_dup is filtered above the persisted frame (see verify.py)
        verified = persist_stage(verify_pairs(
            cands, docs, cfg, id_col=idc, text_col=txt, phash_col=None,
        ))
        persisted.append(verified)
        score = "jaccard" if "jaccard" in verified.columns else "mh_sim"
        (
            verified.filter(F.col("is_dup"))
            .select("id_a", "id_b", F.col(score).alias("jaccard"))
            .write.mode("overwrite")
            .parquet(self._path("dup_pairs", f"batch_id={batch_id}"))
        )
        signed.write.mode("overwrite").parquet(self._path("docs", f"batch_id={batch_id}"))
        for df in persisted:
            df.unpersist()
        self._mark_done(batch_id)
        self._maybe_compact(batch_id, docs_schema)

    def start(self, stream: DataFrame, checkpoint: str | None = None):
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint or self._path("_ss_checkpoint")
        )
        return writer.trigger(availableNow=True).start()

    def dup_pairs(self) -> DataFrame:
        """(id_a, id_b, jaccard, batch_id): id_a is from batch batch_id,
        and jaccard is the minhash estimate under verify_mode="minhash"."""
        out = self._read_state("dup_pairs")
        if out is None:
            return self.spark.createDataFrame(
                [], "id_a string, id_b string, jaccard double, batch_id long"
            )
        return out.withColumn("batch_id", F.col("batch_id").cast("long"))
