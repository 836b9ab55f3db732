"""Extra (non-frozen) benchmarks beside the frozen bench.py.

--queries isolates the non-pipeline bench queries with noop sinks and
labeled jobs; --pipeline-repeat times the flagship pipeline several times
in one warm JVM.  Per-layer pipeline numbers come from the run itself:
``python3 perfbench/run.py --trace 1``.

usage: python bench_extra.py --queries          # per-bench-query isolation
       python bench_extra.py --pipeline-repeat [n_images] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def query_profile(sf_dir: str, cpus: int = 32) -> dict:
    """Isolate the non-pipeline bench queries with noop sinks."""
    import __spark_entry__ as entry_mod
    from lshdedup.config import DedupConfig
    from lshdedup.minhash import add_signatures
    from lshdedup.session import get_spark

    spark = get_spark(
        app_name="lshdedup-query-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    t: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        t[name] = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    doc_cfg = DedupConfig(k=5, n_perm=128, b=32, r=4, use_phash=False, threshold=0.8)
    signed = add_signatures(docs, doc_cfg, text_col="text", phash_col="_none_")
    timed("doc_signatures_noop", lambda: _noop(signed))
    timed("doc_signatures_noop_warm", lambda: _noop(signed))

    timed("doc_lsh_dedup_count", lambda: entry_mod.q_lsh_dedup_pairs(spark, sf_dir).count())
    timed("doc_lsh_dedup_count_warm", lambda: entry_mod.q_lsh_dedup_pairs(spark, sf_dir).count())

    from lshdedup.ann import ivf_topk, srp_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = emb.filter(F.col("vec_id") >= 50).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    timed("embedding_ann", lambda: srp_topk(q, c, k=10, dim=64).count())
    timed(
        "embedding_ivf",
        lambda: ivf_topk(
            q, c, k=10, dim=64, n_cells=16, n_probe=8, corpus_spill=2
        ).collect(),
    )
    timed(
        "embedding_ivf_warm",
        lambda: ivf_topk(
            q, c, k=10, dim=64, n_cells=16, n_probe=8, corpus_spill=2
        ).collect(),
    )
    spark.stop()
    return t


def _steal_sec() -> float:
    """Cumulative hypervisor steal seconds from /proc/stat — labels every
    measurement with the window quality it ran in (BASELINE.md: delivered
    throughput swings ±40% across windows; steal is the kernel's record)."""
    return int(open("/proc/stat").readline().split()[8]) / 100.0


def pipeline_repeat(n_images: int, reps: int, cpus: int) -> dict:
    """The in-session measurement primitive behind OPTIMIZATION_r06.md's
    decisions: run the flagship pipeline ``reps`` times in ONE warm JVM,
    clearing caches between runs, with per-run wall + steal.  Run this for
    variant A, switch the code (or flag), run again — medians of the warm
    runs compare variants without paying JVM/window drift between them."""
    from bench import IMAGE_DEDUP_CFG
    from lshdedup.pipeline import dedup_pipeline
    from lshdedup.session import get_spark
    from lshdedup.synth import SynthConfig, synth_corpus

    spark = get_spark(
        app_name="lshdedup-pipeline-repeat",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = synth_corpus(
        spark, SynthConfig(n_rows=n_images), partitions=max(cpus * 2, 8)
    ).persist()
    corpus.count()
    cfg = IMAGE_DEDUP_CFG
    runs = []
    for _ in range(reps):
        s0 = _steal_sec()
        t0 = time.perf_counter()
        res = dedup_pipeline(spark, corpus, cfg)
        n_clusters = res.clusters.select("cluster_id").distinct().count()
        wall = round(time.perf_counter() - t0, 3)
        res.unpersist()
        spark.catalog.clearCache()
        corpus.persist()
        corpus.count()
        runs.append({"wall": wall, "clusters": n_clusters,
                     "steal": round(_steal_sec() - s0, 1)})
        print(json.dumps(runs[-1]), file=sys.stderr, flush=True)
    spark.stop()
    warm = sorted(r["wall"] for r in runs[1:]) or [runs[0]["wall"]]
    return {"n_images": n_images, "cpus": cpus, "runs": runs,
            "median_warm": warm[len(warm) // 2]}


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if mode == "--queries":
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        print(json.dumps(query_profile(sf_dir, cpus)))
    elif mode == "--pipeline-repeat":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        print(json.dumps(pipeline_repeat(n, reps, cpus)))
    else:
        print(__doc__[__doc__.index("usage:"):].strip(), file=sys.stderr)
        sys.exit(2)
    sys.stdout.flush()
