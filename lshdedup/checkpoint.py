"""Per-stage checkpoint/resume + lineage/metrics — north-rule requirement.

The reference has nothing here (long runs restart from zero, SURVEY §4.15).
Design: each pipeline stage writes its output table under
``<checkpoint_dir>/<run_id>/<stage>/`` (parquet locally; the same code path
takes an Iceberg table identifier on clusters with an Iceberg catalog — the
write API is isolated in ``_write``/``_read``).  A stage whose output
already exists with a success marker AND a matching config fingerprint is
skipped on rerun — resumability is table-existence, not driver state, so a
killed job resumes mid-pipeline.

Every completed stage appends one JSON metrics line (rows, wall seconds,
config hash, and the lineage: rows per written file, keyed by the file's
``part-NNNNN`` task number) to ``<checkpoint_dir>/<run_id>/metrics.jsonl``;
``StageRunner.metrics_df`` reads that file back as a DataFrame.  The counts
come from the footers of the parquet files the write just committed, so no
Spark job reads the stage back to count it.  The success marker stores the
stage's schema, and the stage is read back (now and on resume) with that
schema, so a resumed stage launches no Spark job; a marker without a schema
counts as incomplete.  A resumed stage adds no metrics line.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from dataclasses import asdict
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from lshdedup.config import DedupConfig

# where a run is stored, and a knob nothing reads: not in the fingerprint
EXECUTION_FIELDS = ("run_id", "checkpoint_dir", "shuffle_partitions")
MARKER = "_LSHDEDUP_DONE.json"


class StageRunner:
    """Orchestrates checkpointed stages of one pipeline run."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig):
        if not cfg.checkpoint_dir:
            raise ValueError("cfg.checkpoint_dir required for StageRunner")
        self.spark = spark
        self.cfg = cfg
        self.root = os.path.join(cfg.checkpoint_dir, cfg.run_id)
        os.makedirs(self.root, exist_ok=True)
        # stable across driver restarts (builtin hash() is per-process salted,
        # which would defeat resume-after-kill); covers only the fields that
        # can change a stage's output, so a moved tree still resumes
        fields = {k: v for k, v in asdict(cfg).items() if k not in EXECUTION_FIELDS}
        digest = hashlib.sha256(json.dumps(fields, sort_keys=True).encode("utf-8")).hexdigest()
        self.cfg_hash = int(digest[:15], 16)
        self.events: list[dict] = []

    # -- storage primitives (swap for Iceberg writeTo/load on a cluster) --
    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _stored_schema(self, stage: str) -> StructType | None:
        """The schema in the stage's marker, or None unless the marker
        exists, matches this config and holds a schema."""
        marker = os.path.join(self._path(stage), MARKER)
        if not os.path.exists(marker):
            return None
        with open(marker) as fh:
            meta = json.load(fh)
        if meta.get("cfg_hash") != self.cfg_hash or "schema" not in meta:
            return None
        return StructType.fromJson(meta["schema"])

    def _write(self, stage: str, df: DataFrame) -> dict[int, int]:
        """Write the stage; rows per ``part-NNNNN`` task number, read from
        the committed files' parquet footers on the driver."""
        df.write.mode("overwrite").parquet(self._path(stage))
        rows: dict[int, int] = {}
        for f in sorted(glob.glob(os.path.join(self._path(stage), "part-*.parquet"))):
            task = int(os.path.basename(f).split("-")[1])
            rows[task] = rows.get(task, 0) + pq.read_metadata(f).num_rows
        return rows

    def _read(self, stage: str, schema: StructType) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self._path(stage))

    # -- the stage wrapper --
    def stage(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) one stage; returns the materialized output."""
        schema = self._stored_schema(name)
        if schema is not None:
            self.events.append({"stage": name, "resumed": True})
            return self._read(name, schema)
        t0 = time.perf_counter()
        out = fn()
        parts = self._write(name, out)
        result = self._read(name, out.schema)
        wall = time.perf_counter() - t0
        meta: dict = {
            "stage": name,
            "resumed": False,
            "wall_sec": round(wall, 3),
            "cfg_hash": self.cfg_hash,
            "run_id": self.cfg.run_id,
            "rows": sum(parts.values()),
            "n_partitions": len(parts),
            "partition_rows": parts,
        }
        with open(os.path.join(self._path(name), MARKER), "w") as fh:
            json.dump({**meta, "schema": out.schema.jsonValue()}, fh)
        with open(os.path.join(self.root, "metrics.jsonl"), "a") as fh:
            fh.write(json.dumps(meta) + "\n")
        self.events.append(meta)
        return result

    def metrics_df(self) -> DataFrame:
        """The run's metrics as a DataFrame (queryable lineage table)."""
        path = os.path.join(self.root, "metrics.jsonl")
        rows = []
        if os.path.exists(path):
            with open(path) as fh:
                rows = [json.loads(line) for line in fh if line.strip()]
        return self.spark.createDataFrame(
            [
                (
                    r.get("stage"),
                    float(r.get("wall_sec", 0.0)),
                    int(r.get("rows", 0)),
                    int(r.get("n_partitions", 0)),
                    json.dumps(r.get("partition_rows", {})),
                )
                for r in rows
            ],
            "stage string, wall_sec double, rows long, n_partitions int, partition_lineage string",
        )
