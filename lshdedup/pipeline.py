"""The flagship dedup pipeline — the Spark lifecycle of the reference's
``dna_benchmark`` entry point (dna_benchmark.h:447-504, SURVEY §3.1):

  scan → exact-dup collapse → signatures → band explode → bucket id arrays
  → verify → dup_pairs → connected components → clusters

Shuffle inventory (what the plan must look like at 100 TB):
  1. exact-dup collapse      — shuffle on 128-bit content key
  2. candidate pairs         — shuffle on (band_id, band_hash) for the
                               window count; the id-array aggregate reuses
                               the same partitioning (no join)
  3. verify enrich           — two joins pairs↔docs (docs side pruned to
                               id/sig/caption/phash only — never `bytes`)
  4. connected components    — one shuffle on the smaller edge endpoint
                               (partition-local union-find), one on vertex
                               id (root check); three per star round, run
                               only for components spanning partitions
Everything else is narrow.  `bytes` is pruned at the first select and never
travels past the scan (SURVEY §7.4).

Task inventory: in memory every stage boundary is ``util.persist_stage``,
which lets AQE coalesce each cached stage's final shuffle read as it does
for an uncached plan.  A plain ``persist()`` keeps all
``spark.sql.shuffle.partitions`` (Spark's cached-plan default), and every
stage downstream of it inherits that task count.  Python tasks are what
this costs: each pays a fixed 0.2–0.25 s (4-core host) before its UDF sees
a row, for pyspark's per-task ``importlib.invalidate_caches()``, so count
a change's Python tasks, not just its rows.  At 2,000 rows and 16 shuffle
partitions (``local[4]``) a plain ``persist()`` gave 186 tasks per call,
16 of them for a signature UDF whose kernels need about 0.1 s; sized by
AQE the call runs 21 tasks, and every cached stage one partition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lshdedup.checkpoint import StageRunner
from lshdedup.cluster import assign_clusters
from lshdedup.config import DedupConfig
from lshdedup.lsh import candidate_pairs, exact_dup_groups, explode_bands
from lshdedup.minhash import add_signatures
from lshdedup.params import optimal_params
from lshdedup.util import persist_stage
from lshdedup.verify import verify_pairs


@dataclass
class DedupResult:
    clusters: DataFrame          # (image_id, cluster_id)
    dup_pairs: DataFrame         # verified (id_a, id_b, scores..., is_dup=true)
    candidates: DataFrame        # pre-verify candidate pairs
    skew_report: DataFrame       # over-cap buckets excluded from pair-gen
    cfg: DedupConfig
    extra: dict = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release every DataFrame the pipeline persisted (stage
        boundaries, caches).  Call after materializing the outputs —
        long-lived sessions that run the pipeline repeatedly (bench, the
        driver) leak executor storage otherwise."""
        for df in self.extra.get("persisted", []):
            df.unpersist()


def dedup_pipeline(
    spark: SparkSession,
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
    phash_col: Optional[str] = "phash",
) -> DedupResult:
    """Run the near-duplicate pipeline over an image+caption DataFrame.

    ``df`` needs (id_col, text_col[, phash_col]); any other columns
    (e.g. the fat ``bytes`` column) are pruned immediately.

    Both modes cut the same six stage boundaries: ``reps``,
    ``exact_edges``, ``signatures`` (``add_signatures``' output: the
    signature, pHash merged in the same UDF pass, plus every other per-doc
    column verify reads), ``candidates``, ``verified`` and ``clusters`` — parquet
    stages through ``StageRunner`` when ``cfg.checkpoint_dir`` is set,
    frames persisted by ``util.persist_stage`` otherwise (partition counts
    sized by AQE, not pinned to ``spark.sql.shuffle.partitions``; released
    by ``DedupResult.unpersist``).

    Building the result is not lazy: in both modes connected components'
    eager local checkpoints evaluate every stage.
    """
    cfg = cfg.resolved(optimal_params)
    pcol = phash_col if cfg.use_phash and phash_col in df.columns else None
    key_cols = [text_col] + ([pcol] if pcol else [])
    narrow = df.select(id_col, *key_cols)

    runner = StageRunner(spark, cfg) if cfg.checkpoint_dir else None
    persisted: list = []

    def stage(name, fn):
        if runner:
            return runner.stage(name, fn)
        out = persist_stage(fn())
        persisted.append(out)
        return out

    # 1. exact-dup collapse (lsh.py docstring)
    reps_df, edges_df = exact_dup_groups(narrow, id_col, key_cols, persisted=persisted)
    reps = stage("reps", lambda: reps_df)
    exact_edges = stage("exact_edges", lambda: edges_df)

    # 2. signatures (one fused shingle+minhash UDF pass per row)
    signed = stage("signatures", lambda: add_signatures(
        reps, cfg, text_col=text_col, phash_col=pcol))

    # 3. band explode → candidate pairs
    buckets = explode_bands(signed, id_col, "sig", cfg)
    pairs, skew = candidate_pairs(buckets, id_col, cfg)
    candidates = stage("candidates", lambda: pairs)

    # 4. verify; is_dup is filtered above the boundary (see verify.py)
    verified = stage("verified", lambda: verify_pairs(
        candidates, signed, cfg, id_col=id_col, text_col=text_col,
        phash_col=pcol))
    dup_pairs = verified.filter(F.col("is_dup"))

    # 5. connected components over (exact-dup edges ∪ verified rep pairs)
    edges = dup_pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(exact_edges.select("src", "dst"))
    clusters = stage("clusters", lambda: assign_clusters(narrow, edges, id_col=id_col))

    return DedupResult(clusters=clusters, dup_pairs=dup_pairs, candidates=candidates,
                       skew_report=skew, cfg=cfg,
                       extra={"runner": runner, "persisted": persisted})


def dup_pairs_brute_force(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
) -> DataFrame:
    """Exact all-pairs Jaccard oracle (small scale ONLY) — the reference's
    ground-truth harness (lsh_benchmark.h:109-129, dna_benchmark.h:234-250).
    Triangular crossJoin + native array intersect/union."""
    from lshdedup.shingle import distinct_char_shingles_expr, exact_jaccard_expr

    sets = df.select(
        F.col(id_col), distinct_char_shingles_expr(F.col(text_col), cfg.k).alias("sh")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", exact_jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= cfg.threshold)
        .select("id_a", "id_b", "jaccard")
    )
