"""DNA packed shingling (k_shingles.h:106-221)."""

import numpy as np
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.dna import (
    decode_dna,
    distinct_dna_shingles_expr,
    dna_dup_graph,
    dna_shingles_expr,
    encode_dna,
)


def test_encode_decode_roundtrip():
    """encode/decode round-trip (test_dna_shingling analogue,
    test.h:251-270); lossy only for trailing-A/short cases
    (k_shingles.h:182-183)."""
    for seq in ["ATCGGT", "TTTTTT", "GCGCGC", "ATCGAT"]:
        assert decode_dna(encode_dna(seq, 6), 6) == seq
    # documented lossy case: len < k with trailing A's
    assert decode_dna(encode_dna("AT", 6), 6) == "AT"


def test_spark_shingles_match_scalar(spark):
    df = spark.createDataFrame([("ATCGGTAC",)], ["seq"])
    row = df.select(dna_shingles_expr("seq", 6).alias("s")).first()
    want = [encode_dna("ATCGGTAC"[i : i + 6], 6) for i in range(3)]
    assert row["s"] == want


def test_short_sequence_single_shingle(spark):
    df = spark.createDataFrame([("ATC",)], ["seq"])
    row = df.select(dna_shingles_expr("seq", 6).alias("s")).first()
    assert row["s"] == [encode_dna("ATC", 6)]


def test_weighted_dna_counts(spark):
    """duplicate k-grams counted (weighted variant, k_shingles.h:200-221)."""
    df = spark.createDataFrame([("ATATAT",)], ["seq"])
    all_g = df.select(dna_shingles_expr("seq", 2).alias("s")).first()["s"]
    dist = df.select(distinct_dna_shingles_expr("seq", 2).alias("s")).first()["s"]
    assert len(all_g) == 5 and len(set(dist)) == 2  # AT, TA


def _random_reads(n, rng, length=60):
    return ["".join(rng.choice(list("ATCG"), size=length)) for _ in range(n)]


def test_dna_dup_graph_vs_bruteforce(spark):
    """Threshold-0.7 dup edges equal the exact-Jaccard oracle's
    (dna_benchmark flagship, aggressive banding)."""
    rng = np.random.Generator(np.random.PCG64(11))
    base = _random_reads(20, rng)
    reads = list(base)
    # plant near-dups: mutate 2 positions of reads 0..4
    for i in range(5):
        s = list(base[i])
        s[10] = "A" if s[10] != "A" else "T"
        s[40] = "C" if s[40] != "C" else "G"
        reads.append("".join(s))
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(reads)], ["read_id", "seq"]
    )
    cfg = DedupConfig(k=6, n_perm=128, b=32, r=4, threshold=0.6, use_phash=False)
    got = {
        (r["id_a"], r["id_b"])
        for r in dna_dup_graph(df, cfg).collect()
    }
    # brute-force oracle
    from lshdedup.shingle import exact_jaccard_expr

    sets = df.select("read_id", distinct_dna_shingles_expr("seq", 6).alias("sh"))
    a = sets.select(F.col("read_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sets.select(F.col("read_id").alias("id_b"), F.col("sh").alias("sb"))
    oracle = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("j", exact_jaccard_expr(F.col("sa"), F.col("sb")))
        .filter(F.col("j") >= 0.6)
        .collect()
    }
    assert got == oracle
    assert len(oracle) >= 5  # the planted mutants
