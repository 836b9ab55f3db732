"""Signature UDFs on Spark vs the numpy core, and the reference's word-set
fixtures (test.h:85-138)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.hashing import char_shingle_hashes, generate_permutations, minhash_segments
from lshdedup.minhash import (
    add_signatures,
    caption_signature_udf,
    merge_signatures_expr,
    minhash_similarity_expr,
    token_hash_signature_udf,
)

CFG = DedupConfig(k=3, n_perm=64, seed=1)


def test_udf_matches_numpy_core(spark):
    texts = ["hello world", "abc", "x", ""]
    df = spark.createDataFrame([(t,) for t in texts], ["caption"])
    got = df.select(caption_signature_udf(CFG)(F.col("caption")).alias("sig")).collect()
    a, b = generate_permutations(CFG.n_perm, CFG.seed)
    flat, bounds = char_shingle_hashes([t.encode() for t in texts], CFG.k)
    want = minhash_segments(flat, bounds, a, b).astype(np.int64)
    for i, row in enumerate(got):
        assert row["sig"] == list(want[i]), f"row {i}"


def test_signature_partitioning_invariance(spark):
    """Same rows, different partitioning → identical signatures (guards the
    order-dependence trap of SURVEY §2.7 / weight_minhash.h:165-168)."""
    texts = [(f"document number {i} with some shared words",) for i in range(64)]
    df1 = spark.createDataFrame(texts, ["caption"]).repartition(2)
    df2 = spark.createDataFrame(texts, ["caption"]).repartition(16)
    s1 = {
        r["caption"]: r["sig"]
        for r in df1.select("caption", caption_signature_udf(CFG)(F.col("caption")).alias("sig")).collect()
    }
    s2 = {
        r["caption"]: r["sig"]
        for r in df2.select("caption", caption_signature_udf(CFG)(F.col("caption")).alias("sig")).collect()
    }
    assert s1 == s2


def test_merge_is_elementwise_min(spark):
    df = spark.createDataFrame([([3, 9, 1], [5, 2, 1])], "a array<long>, b array<long>")
    assert df.select(merge_signatures_expr(F.col("a"), F.col("b")).alias("m")).first()["m"] == [3, 2, 1]


def test_minhash_similarity_expr(spark):
    df = spark.createDataFrame([([1, 2, 3, 4], [1, 9, 3, 7])], "a array<long>, b array<long>")
    assert df.select(minhash_similarity_expr(F.col("a"), F.col("b")).alias("s")).first()["s"] == 0.5


def test_minhash_similarity_expr_ragged_is_null(spark):
    """Signatures of different lengths have no lane-wise estimate: NULL,
    in either argument order, not a fraction over zip_with's padding."""
    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 2, 3]), ([1, 2], [1, 2, 3, 4])], "a array<long>, b array<long>"
    )
    got = df.select(minhash_similarity_expr(F.col("a"), F.col("b")).alias("s")).collect()
    assert [r["s"] for r in got] == [None, None]


def test_word_set_estimate_m1_m2(spark, word_sets):
    """MinHash estimate ≈ exact Jaccard on the reference's word fixtures
    (test_min_hash, test.h:85-103), via the token-hash path."""
    cfg = DedupConfig(n_perm=256, seed=1)
    df = spark.createDataFrame(
        [(k, v) for k, v in word_sets.items()], ["set_id", "text"]
    ).withColumn("tok_hashes", F.transform(F.array_distinct(F.split("text", " ")), lambda x: F.xxhash64(x)))
    sigs = {
        r["set_id"]: np.array(r["sig"])
        for r in df.withColumn("sig", token_hash_signature_udf(cfg)(F.col("tok_hashes"))).collect()
    }
    a = set(word_sets["m1"].split())
    b = set(word_sets["m2"].split())
    exact = len(a & b) / len(a | b)
    est = (sigs["m1"] == sigs["m2"]).mean()
    # 256 perms → sd ≈ 0.03; allow 4 sd
    assert est == pytest.approx(exact, abs=0.12)


def test_add_signatures_phash_blend(spark):
    """Blended signature == elementwise min of caption and phash sigs."""
    cfg = DedupConfig(k=3, n_perm=32, seed=1, use_phash=True)
    df = spark.createDataFrame(
        [("a", "some caption text", 123456789), ("b", "other caption here", -42)],
        ["image_id", "caption", "phash"],
    )
    blended = {r["image_id"]: r["sig"] for r in add_signatures(df, cfg).collect()}
    cap_only = {
        r["image_id"]: r["sig"]
        for r in add_signatures(df, DedupConfig(k=3, n_perm=32, seed=1, use_phash=False)).collect()
    }
    for key in blended:
        assert all(m <= c for m, c in zip(blended[key], cap_only[key]))
