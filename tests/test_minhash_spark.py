"""Signature UDFs on Spark vs the numpy core, and the reference's word-set
fixtures (test.h:85-138)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lshdedup.config import MERSENNE_31, DedupConfig
from lshdedup.hashing import (
    char_shingle_hashes,
    generate_permutations,
    minhash_fixed,
    minhash_segments,
    oph_densify,
    oph_raw,
    phash_window_hashes,
    ragged_valid_indices,
    series_grams,
)
from lshdedup.minhash import (
    add_signatures,
    minhash_similarity_expr,
    signature_udf,
    token_hash_signature_udf,
)
from lshdedup.refrng import ref_permutations, xxh64_windows

CFG = DedupConfig(k=3, n_perm=64, seed=1)


def test_udf_matches_numpy_core(spark):
    texts = ["hello world", "abc", "x", ""]
    df = spark.createDataFrame([(t,) for t in texts], ["caption"])
    got = df.select(signature_udf(CFG, False)(F.col("caption")).alias("sig")).collect()
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
        for r in df1.select("caption", signature_udf(CFG, False)(F.col("caption")).alias("sig")).collect()
    }
    s2 = {
        r["caption"]: r["sig"]
        for r in df2.select("caption", signature_udf(CFG, False)(F.col("caption")).alias("sig")).collect()
    }
    assert s1 == s2


def test_oph_rejects_32_bit_minhash():
    """OPH has no 32-bit fold, so minhash_bits=32 would only move the
    checkpoint fingerprint; the kperm schemes still take it."""
    import __spark_entry__ as entry_mod

    with pytest.raises(ValueError, match="oph"):
        DedupConfig(sig_scheme="oph", minhash_bits=32)
    DedupConfig(sig_scheme="kperm", minhash_bits=32)
    assert entry_mod.REF_CFG.sig_scheme == "kperm-ref"
    assert entry_mod.REF_CFG.minhash_bits == 32


PH_ROWS = [
    ("a", "some caption text", 123456789),
    ("b", "other caption here", -42),
    ("c", "a third caption", None),  # a null pHash signs as 0
]


@pytest.mark.parametrize(
    "cfg",
    [
        DedupConfig(k=3, n_perm=32, seed=1),
        DedupConfig(k=3, n_perm=32, seed=1, sig_scheme="kperm-ref", minhash_bits=32),
        DedupConfig(k=3, n_perm=32, seed=1, sig_scheme="oph"),
    ],
    ids=["kperm", "kperm-ref-32", "oph"],
)
def test_add_signatures_phash_is_union_signature(spark, cfg):
    """With pHash, add_signatures signs the union of caption k-grams and
    pHash windows: kperm takes the element-wise min of the two signatures,
    OPH the min of the two raw bucket matrices, densified once."""
    df = spark.createDataFrame(PH_ROWS, "image_id string, caption string, phash long")
    got = {r["image_id"]: r["sig"] for r in add_signatures(df, cfg).collect()}
    texts = pd.Series([r[1] for r in PH_ROWS])
    wins = phash_window_hashes(np.array([r[2] or 0 for r in PH_ROWS], dtype=np.int64))
    if cfg.sig_scheme == "oph":
        flat, bounds, _, _ = series_grams(texts, cfg.k)
        idx, lens = ragged_valid_indices(bounds)
        cap = oph_raw(flat[idx], lens, cfg.n_perm, cfg.seed)
        img_lens = np.full(len(PH_ROWS), wins.shape[1], dtype=np.int64)
        img = oph_raw(wins.reshape(-1), img_lens, cfg.n_perm, cfg.seed)
        want = oph_densify(np.minimum(cap, img), cfg.n_perm, cfg.seed)
    else:
        if cfg.sig_scheme == "kperm-ref":
            a, b = ref_permutations(cfg.n_perm, cfg.seed)
            flat, bounds, _, _ = series_grams(texts, cfg.k, lambda w: xxh64_windows(w, 0))
            flat, wins = flat % np.uint64(MERSENNE_31), wins % np.uint64(MERSENNE_31)
            vmask = 0xFFFFFFFF
        else:
            a, b = generate_permutations(cfg.n_perm, cfg.seed)
            flat, bounds, _, _ = series_grams(texts, cfg.k)
            vmask = None
        want = np.minimum(
            minhash_segments(flat, bounds, a, b, vmask=vmask),
            minhash_fixed(wins, a, b, vmask=vmask),
        )
    for i, row in enumerate(PH_ROWS):
        assert got[row[0]] == list(want[i].astype(np.int64)), f"row {i}"


def test_phash_signature_is_one_udf_pass(spark):
    """kperm with pHash signs in ONE Python UDF call: no second UDF for the
    pHash channel and no JVM zip_with merge."""
    cfg = DedupConfig(k=3, n_perm=32, seed=1)
    df = spark.createDataFrame(PH_ROWS, "image_id string, caption string, phash long")
    plan = add_signatures(df, cfg)._jdf.queryExecution().optimizedPlan().toString()
    assert "zip_with" not in plan
    assert len(set(re.findall(r"pythonUDF\d+#\d+", plan))) == 1, plan


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
