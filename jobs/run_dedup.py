"""spark-submit entry point for the near-duplicate pipeline.

Cluster usage (north rule: ships as --py-files modules):

    cd repo && zip -r /tmp/lshdedup.zip lshdedup
    spark-submit --py-files /tmp/lshdedup.zip jobs/run_dedup.py \
        --input  <path or iceberg table of (image_id, bytes, w, h, fmt, caption, phash)> \
        --output <clusters table/path> \
        --checkpoint-dir <resumable stage root> --run-id run42 \
        --threshold 0.7 --n-perm 128 --k 5

Local smoke (this sandbox):

    python jobs/run_dedup.py --synthetic 5000 --output /tmp/clusters

Resumability: rerunning with the same --checkpoint-dir/--run-id/config
skips completed stages (checkpoint.py) and launches no Spark job before the
output write; metrics + lineage (rows per written file, read from the
parquet footers) land under <checkpoint-dir>/<run-id>/metrics.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running from the repo root without --py-files (local smoke)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="lshdedup near-duplicate pipeline")
    p.add_argument("--input", help="parquet path or iceberg table (omit with --synthetic)")
    p.add_argument("--input-format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic rows instead of reading --input")
    p.add_argument("--output", required=True, help="output path for (image_id, cluster_id)")
    p.add_argument("--pairs-output", help="optional output path for verified dup pairs")
    p.add_argument("--checkpoint-dir")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--text-col", default="caption")
    p.add_argument("--phash-col", default="phash")
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--n-perm", type=int, default=128)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--bands", type=int)
    p.add_argument("--rows-per-band", type=int)
    p.add_argument("--fp-weight", type=float, default=0.1)
    p.add_argument("--fn-weight", type=float, default=0.9)
    p.add_argument("--bucket-cap", type=int, default=4096)
    p.add_argument("--pair-salt", type=int, default=0)
    p.add_argument("--verify-mode", default="exact", choices=["minhash", "exact", "exact+simhash"])
    from lshdedup.config import DedupConfig

    p.add_argument("--sig-scheme", default=DedupConfig.sig_scheme,
                   choices=["kperm", "kperm-ref", "oph"],
                   help="default: the DedupConfig library default (one "
                        "source of truth — CLI and library produce "
                        "identical signatures unless this flag is set). "
                        "kperm = classic 128-permutation; kperm-ref = "
                        "bit-exact reference parity (mt19937_64 + XXH64); "
                        "oph = one-permutation hashing, the recommended "
                        "scale path for very large corpora")
    p.add_argument("--no-phash", action="store_true")
    p.add_argument("--master", help="override master (default: spark-submit's)")
    args = p.parse_args(argv)

    from lshdedup.pipeline import dedup_pipeline
    from lshdedup.session import get_spark

    spark = get_spark(app_name=f"lshdedup-{args.run_id}", master=args.master)

    if args.synthetic:
        from lshdedup.synth import SynthConfig, synth_corpus

        df = synth_corpus(spark, SynthConfig(n_rows=args.synthetic))
    elif args.input_format == "iceberg":
        df = spark.read.format("iceberg").load(args.input)
    else:
        df = spark.read.parquet(args.input)

    cfg = DedupConfig(
        k=args.k,
        n_perm=args.n_perm,
        seed=args.seed,
        threshold=args.threshold,
        b=args.bands,
        r=args.rows_per_band,
        fp_weight=args.fp_weight,
        fn_weight=args.fn_weight,
        bucket_cap=args.bucket_cap,
        pair_salt=args.pair_salt,
        verify_mode=args.verify_mode,
        sig_scheme=args.sig_scheme,
        use_phash=not args.no_phash,
        checkpoint_dir=args.checkpoint_dir,
        run_id=args.run_id,
    )
    res = dedup_pipeline(
        spark,
        df,
        cfg,
        id_col=args.id_col,
        text_col=args.text_col,
        phash_col=None if args.no_phash else args.phash_col,
    )
    res.clusters.write.mode("overwrite").parquet(args.output)
    if args.pairs_output:
        res.dup_pairs.write.mode("overwrite").parquet(args.pairs_output)
    skew = res.skew_report.count()
    n = res.clusters.count()
    print(
        json.dumps(
            {
                "rows": n,
                "config": json.loads(res.cfg.to_json()),
                "skipped_hot_buckets": skew,
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
