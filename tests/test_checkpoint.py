"""StageRunner bookkeeping: counts from the written parquet footers, the
stage read back (and resumed) with the schema stored in its marker, so a
checkpointed stage launches only its write job and a resumed one none."""

import dataclasses
import json
import os
import subprocess
import sys

import pytest

from lshdedup.checkpoint import MARKER, StageRunner
from lshdedup.config import DedupConfig
from lshdedup.pipeline import dedup_pipeline
from lshdedup.synth import SynthConfig, synth_corpus

CFG = DedupConfig(threshold=0.7, n_perm=128, b=32, r=4, fp_weight=0.1, fn_weight=0.9)
STAGES = ["reps", "exact_edges", "signatures", "candidates", "verified", "clusters"]


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _clusters(res):
    return {(r["image_id"], r["cluster_id"]) for r in res.clusters.collect()}


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_corpus(spark, SynthConfig(n_rows=120)).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def tree(spark, corpus, tmp_path_factory):
    """One complete checkpoint tree: (cfg, first-call result)."""
    cfg = dataclasses.replace(
        CFG, checkpoint_dir=str(tmp_path_factory.mktemp("ckpt")), run_id="footers")
    return cfg, dedup_pipeline(spark, corpus, cfg)


def test_stage_launches_only_the_write_job(spark, tmp_path):
    df = spark.range(1000).selectExpr("id", "cast(id % 7 as string) as k").repartition(3).cache()
    df.count()
    _, plain = _jobs(spark, "ckpt_plain_write", lambda: df.write.parquet(str(tmp_path / "plain")))
    cfg = dataclasses.replace(CFG, checkpoint_dir=str(tmp_path / "ckpt"), run_id="jobs")
    runner = StageRunner(spark, cfg)
    out, staged = _jobs(spark, "ckpt_stage_write", lambda: runner.stage("x", lambda: df))
    assert staged == plain
    assert runner.events[0]["rows"] == 1000 and out.schema == spark.read.parquet(
        os.path.join(runner.root, "x")).schema
    df.unpersist()


def test_resumed_pipeline_launches_no_job(spark, corpus, tree):
    cfg, first = tree
    res, n = _jobs(spark, "ckpt_resume", lambda: dedup_pipeline(spark, corpus, cfg))
    assert n == 0
    assert [e["resumed"] for e in res.extra["runner"].events] == [True] * 6
    assert _clusters(res) == _clusters(first)


def test_counts_and_schema_match_the_written_tables(spark, tree):
    cfg, first = tree
    events = first.extra["runner"].events
    assert [e["stage"] for e in events] == STAGES
    resumed = StageRunner(spark, cfg)
    for e in events:
        path = os.path.join(resumed.root, e["stage"])
        on_disk = spark.read.parquet(path)
        assert e["rows"] == on_disk.count(), e["stage"]
        assert sum(e["partition_rows"].values()) == e["rows"]
        assert e["n_partitions"] == len(e["partition_rows"]) >= 1
        # the read-back (here through a resume) uses the stored schema,
        # and that equals the one Spark would infer
        assert resumed.stage(e["stage"], lambda: None).schema == on_disk.schema
    assert all(e["resumed"] for e in resumed.events)
    assert first.clusters.schema == spark.read.parquet(
        os.path.join(resumed.root, "clusters")).schema


def test_marker_without_schema_recomputes(spark, corpus, tree, tmp_path):
    import shutil

    cfg, first = tree
    moved = dataclasses.replace(cfg, checkpoint_dir=str(tmp_path))
    shutil.copytree(os.path.join(cfg.checkpoint_dir, cfg.run_id),
                    os.path.join(tmp_path, cfg.run_id))
    marker = os.path.join(tmp_path, cfg.run_id, "verified", MARKER)
    with open(marker) as fh:
        meta = json.load(fh)
    del meta["schema"]
    with open(marker, "w") as fh:
        json.dump(meta, fh)
    res = dedup_pipeline(spark, corpus, moved)
    resumed = {e["stage"]: e["resumed"] for e in res.extra["runner"].events}
    assert resumed == {s: s != "verified" for s in STAGES}
    assert _clusters(res) == _clusters(first)
    with open(marker) as fh:
        assert "schema" in json.load(fh)


def test_metrics_df_has_one_schema(spark, tmp_path):
    empty = StageRunner(spark, dataclasses.replace(
        CFG, checkpoint_dir=str(tmp_path), run_id="empty"))
    one = StageRunner(spark, dataclasses.replace(
        CFG, checkpoint_dir=str(tmp_path), run_id="one"))
    one.stage("x", lambda: spark.range(0))
    # an empty stage still writes one (empty) file
    assert one.events[0]["n_partitions"] == 1 and one.events[0]["rows"] == 0
    assert empty.metrics_df().count() == 0
    assert empty.metrics_df().columns == one.metrics_df().columns
    assert empty.metrics_df().schema == one.metrics_df().schema


def test_run_dedup_job_resumes(spark, tmp_path):
    """The spark-submit entry point, run twice in fresh processes over one
    checkpoint tree: the rerun computes no stage and writes the same
    clusters."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = tmp_path / "ckpt"

    def run(out):
        subprocess.run(
            [sys.executable, os.path.join(root, "jobs", "run_dedup.py"),
             "--synthetic", "200", "--master", "local[2]",
             "--checkpoint-dir", str(ckpt), "--run-id", "t", "--output", str(out)],
            capture_output=True, text=True, check=True, cwd=root,
            env={**os.environ, "LSHDEDUP_DRIVER_MEM": "1g"},
        )
        with open(ckpt / "t" / "metrics.jsonl") as fh:
            return sum(1 for line in fh if line.strip())

    assert run(tmp_path / "o1") == 6
    assert run(tmp_path / "o2") == 6

    def rows(out):
        return {tuple(r) for r in spark.read.parquet(str(out)).select(
            "image_id", "cluster_id").collect()}

    assert rows(tmp_path / "o1") == rows(tmp_path / "o2")
