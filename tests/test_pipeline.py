"""End-to-end recall gate + determinism + resume (SURVEY §5.2 items 2-5).

The recall bar is BASELINE.json's: dup-pair recall ≥ 0.99 vs the exact
brute-force oracle at identical shingle/signature config, measured on
cluster co-membership (the pipeline's output contract is cluster
assignments; verified pairs + exact-dup edges both feed CC).
"""

import pytest
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.metrics import pair_set_metrics
from lshdedup.pipeline import dedup_pipeline, dup_pairs_brute_force
from lshdedup.synth import SynthConfig, synth_corpus, truth_pairs_local

SCFG = SynthConfig(n_rows=400)
CFG = DedupConfig(threshold=0.7, n_perm=128, b=32, r=4, fp_weight=0.1, fn_weight=0.9)


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_corpus(spark, SCFG).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def result(spark, corpus):
    return dedup_pipeline(spark, corpus, CFG)


def _cluster_map(result):
    return {r["image_id"]: r["cluster_id"] for r in result.clusters.collect()}


def test_recall_vs_bruteforce_oracle(spark, corpus, result):
    """≥ 0.99 of oracle pairs (exact char-shingle Jaccard ≥ threshold)
    end up co-clustered."""
    cmap = _cluster_map(result)
    oracle = dup_pairs_brute_force(corpus, CFG).collect()
    assert len(oracle) > 20
    hit = sum(1 for r in oracle if cmap[r["id_a"]] == cmap[r["id_b"]])
    assert hit / len(oracle) >= 0.99


def test_planted_recall_and_precision(spark, result):
    cmap = _cluster_map(result)
    planted = truth_pairs_local(SCFG, min_level=0.9)
    hit = sum(1 for _, r in planted.iterrows() if cmap[r.id_a] == cmap[r.id_b])
    assert hit / len(planted) >= 0.99
    # no false merges: every co-clustered pair is a planted pair (any level)
    all_planted = {
        (r.id_a, r.id_b) for _, r in truth_pairs_local(SCFG, min_level=0.0).iterrows()
    }
    from collections import defaultdict

    byc = defaultdict(list)
    for img, cid in cmap.items():
        byc[cid].append(img)
    for members in byc.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                assert (members[i], members[j]) in all_planted


def test_dup_pairs_metrics_against_oracle(spark, corpus, result):
    """pair_set_metrics plumbing: F1 of verified-pairs∪exact-edges vs oracle."""
    oracle = dup_pairs_brute_force(corpus, CFG)
    found = result.dup_pairs.select("id_a", "id_b")
    m = pair_set_metrics(found, oracle)
    assert m["n_found"] > 0 and 0.0 <= m["f1"] <= 1.0


def test_determinism_under_partitioning(spark, corpus):
    """repartition(2) vs repartition(16) → identical verified pair sets
    (SURVEY §5.2 item 5)."""
    small_scfg = SynthConfig(n_rows=160)
    df = synth_corpus(spark, small_scfg).cache()
    df.count()
    r2 = dedup_pipeline(spark, df.repartition(2), CFG)
    r16 = dedup_pipeline(spark, df.repartition(16), CFG)
    p2 = {(r["id_a"], r["id_b"]) for r in r2.dup_pairs.collect()}
    p16 = {(r["id_a"], r["id_b"]) for r in r16.dup_pairs.collect()}
    assert p2 == p16
    c2 = {(r["image_id"], r["cluster_id"]) for r in r2.clusters.collect()}
    c16 = {(r["image_id"], r["cluster_id"]) for r in r16.clusters.collect()}
    assert c2 == c16
    df.unpersist()


def test_checkpoint_resume(spark, tmp_path):
    """Rerun with same run_id: stages resumed, identical clusters
    (SURVEY §5.2 item 4); the checkpointed run cuts the pipeline's six
    stages in order and clusters exactly like the in-memory run."""
    import dataclasses

    scfg = SynthConfig(n_rows=120)
    df = synth_corpus(spark, scfg).cache()
    df.count()
    cfg = dataclasses.replace(CFG, checkpoint_dir=str(tmp_path), run_id="resume_test")
    stages = ["reps", "exact_edges", "signatures", "candidates", "verified", "clusters"]
    r1 = dedup_pipeline(spark, df, cfg)
    c1 = {(r["image_id"], r["cluster_id"]) for r in r1.clusters.collect()}
    ev1 = r1.extra["runner"].events
    assert [e["stage"] for e in ev1] == stages
    assert not any(e["resumed"] for e in ev1)  # all stages computed

    r2 = dedup_pipeline(spark, df, cfg)
    c2 = {(r["image_id"], r["cluster_id"]) for r in r2.clusters.collect()}
    ev2 = r2.extra["runner"].events
    assert [e["stage"] for e in ev2] == stages
    assert all(e["resumed"] for e in ev2)  # all resumed, nothing recomputed
    assert c1 == c2

    mem = dedup_pipeline(spark, df, CFG)
    assert {(r["image_id"], r["cluster_id"]) for r in mem.clusters.collect()} == c1
    mem.unpersist()
    # metrics/lineage table exists and covers every stage
    mdf = r1.extra["runner"].metrics_df()
    assert {r["stage"] for r in mdf.collect()} == set(stages)
    df.unpersist()


def test_cfg_hash_stable_across_processes(tmp_path):
    """Resume-after-kill only works if the config fingerprint survives a
    driver restart — builtin hash() is per-process salted, so the runner
    must use a content hash."""
    import dataclasses
    import subprocess
    import sys

    from lshdedup.checkpoint import StageRunner

    cfg = dataclasses.replace(CFG, checkpoint_dir=str(tmp_path), run_id="hash_test")
    local = StageRunner(None, cfg).cfg_hash
    code = (
        "from lshdedup.config import DedupConfig\n"
        "from lshdedup.checkpoint import StageRunner\n"
        f"cfg = DedupConfig.from_json({cfg.to_json()!r})\n"
        "print(StageRunner(None, cfg).cfg_hash)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        env={**__import__("os").environ, "PYTHONHASHSEED": "random"},
    )
    assert int(out.stdout.strip()) == local


def test_skew_report_and_bytes_pruned(spark, result, tmp_path):
    """skew report is well-formed; over a parquet source, column pruning
    reaches the scan — the fat `bytes` column is never read (SURVEY §7.4)."""
    assert result.skew_report.columns == ["band_id", "band_hash", "bucket_size"]
    scfg = SynthConfig(n_rows=60)
    path = str(tmp_path / "corpus.parquet")
    synth_corpus(spark, scfg).write.parquet(path)
    src = spark.read.parquet(path)
    res = dedup_pipeline(spark, src, CFG)
    plan = res.dup_pairs._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert schemas, "expected parquet scans in the plan"
    for schema in schemas:
        assert "bytes" not in schema, schema
        assert "fmt" not in schema, schema  # only id/caption/phash travel


def test_dup_pairs_plan_keeps_shingles_out_of_joins(result):
    """verify defers shingle derivation past its prefilter; that holds only
    if no join condition in the plan dup_pairs runs inlines the shingle
    transform (an is_dup filter pushed into the enrich join does)."""
    plan = result.dup_pairs._jdf.queryExecution().optimizedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert not [line for line in joins if "transform(" in line]


# ------------------- OPH (scale-path signature scheme) -------------------
def test_oph_recall_and_determinism(spark, corpus):
    """The one-permutation-hashing scheme must clear the same ≥0.99
    dup-pair recall bar as the k-permutation parity path, and stay
    partitioning-invariant."""
    import dataclasses

    cfg = dataclasses.replace(CFG, sig_scheme="oph")
    res = dedup_pipeline(spark, corpus, cfg)
    cmap = _cluster_map(res)
    oracle = dup_pairs_brute_force(corpus, cfg).collect()
    assert len(oracle) > 20
    hit = sum(1 for r in oracle if cmap[r["id_a"]] == cmap[r["id_b"]])
    assert hit / len(oracle) >= 0.99
    # determinism under partitioning
    small = synth_corpus(spark, SynthConfig(n_rows=160)).cache()
    small.count()
    p2 = {
        (r["id_a"], r["id_b"])
        for r in dedup_pipeline(spark, small.repartition(2), cfg).dup_pairs.collect()
    }
    p16 = {
        (r["id_a"], r["id_b"])
        for r in dedup_pipeline(spark, small.repartition(16), cfg).dup_pairs.collect()
    }
    assert p2 == p16
    small.unpersist()


def test_degenerate_identical_corpus(spark):
    """5000 byte-identical rows: exact-dup collapse must reduce LSH input to
    ONE representative (no m^2 bucket blowup) and CC must yield one cluster."""
    from pyspark.sql import functions as F

    one = synth_corpus(spark, SynthConfig(n_rows=1)).collect()[0]
    df = (
        spark.range(5000)
        .select(
            F.format_string("img%010d", F.col("id")).alias("image_id"),
            F.lit(bytes(one["bytes"])).alias("bytes"),
            F.lit(one["w"]).alias("w"),
            F.lit(one["h"]).alias("h"),
            F.lit(one["fmt"]).alias("fmt"),
            F.lit(one["caption"]).alias("caption"),
            F.lit(one["phash"]).alias("phash"),
        )
    )
    res = dedup_pipeline(spark, df, CFG)
    # all 5000 rows in one cluster, labeled by the min id
    dist = res.clusters.agg(
        F.countDistinct("cluster_id").alias("k"), F.count(F.lit(1)).alias("n")
    ).first()
    assert (dist["k"], dist["n"]) == (1, 5000)
    # LSH saw exactly one representative -> zero candidate pairs needed
    assert res.candidates.count() == 0
    assert res.skew_report.count() == 0
