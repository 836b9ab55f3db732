"""Verification stage semantics (dna_benchmark.h:197-225 + graft paths)."""

import pytest

from lshdedup.config import DedupConfig
from lshdedup.minhash import add_signatures
from lshdedup.verify import MAX_HAMMING, longest_common_substring_ratio, verify_pairs


def test_lcs_ratio():
    assert longest_common_substring_ratio("abcdef", "abcdef") == 1.0
    assert longest_common_substring_ratio("xxabcdyy", "zzabcdww") == pytest.approx(4 / 8)
    assert longest_common_substring_ratio("abc", "") == 0.0
    assert longest_common_substring_ratio("aaaa", "bbbb") == 0.0
    # substring containment
    assert longest_common_substring_ratio("hello world", "lo wor") == 1.0


def _docs(spark, cfg, rows):
    df = spark.createDataFrame(rows, ["image_id", "caption", "phash"])
    return add_signatures(df, cfg)


def test_verify_exact_mode(spark):
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.6, use_phash=True)
    docs = _docs(
        spark,
        cfg,
        [
            ("a", "shared caption text here", 100),
            ("b", "shared caption text here", 100),      # exact text dup
            ("c", "totally different words entirely", 101),  # phash near-dup of a (hamming 1 vs 100... )
            ("d", "nothing in common with anything", 1 << 40),
        ],
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], ["id_a", "id_b"]
    )
    got = {(r["id_a"], r["id_b"]): r for r in verify_pairs(pairs, docs, cfg).collect()}
    assert got[("a", "b")]["is_dup"] is True
    assert got[("a", "b")]["jaccard"] == 1.0
    # a-c: caption jaccard tiny, but phash hamming(100,101)=bit_count(1)=1 <= 3
    assert got[("a", "c")]["phash_hamming"] == 1
    assert got[("a", "c")]["is_dup"] is True
    # hopeless pairs may be pre-pruned entirely; if present they are not dups
    assert ("a", "d") not in got or got[("a", "d")]["is_dup"] is False


@pytest.mark.parametrize("bits,is_dup", [(3, True), (4, False)])
def test_phash_hamming_boundary(spark, bits, is_dup):
    """The image channel accepts a pair up to MAX_HAMMING differing pHash
    bits and no further; an unverifiable pair may be pre-pruned."""
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.9, use_phash=True)
    docs = _docs(spark, cfg, [
        ("a", "shared caption text here", 0),
        ("b", "nothing in common whatsoever", (1 << bits) - 1),
    ])
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(pairs, docs, cfg).collect()
    if is_dup:
        assert [(r["phash_hamming"], r["is_dup"]) for r in got] == [(bits, True)]
    else:
        assert [(r["phash_hamming"], r["is_dup"]) for r in got] in ([], [(bits, False)])


def test_verify_minhash_mode(spark):
    cfg = DedupConfig(k=3, n_perm=128, threshold=0.5, verify_mode="minhash", use_phash=False)
    docs = _docs(spark, cfg, [("a", "abcdefgh abcdefgh", 0), ("b", "abcdefgh abcdefgh", 0)])
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(pairs, docs, cfg).first()
    assert got["mh_sim"] == 1.0 and got["is_dup"] is True


def test_verify_simhash_channel(spark):
    cfg = DedupConfig(
        k=3, n_perm=64, threshold=0.95, verify_mode="exact+simhash", use_phash=False,
    )
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("fox", "cat", 1)
    df = spark.createDataFrame(
        [("a", base, 0), ("b", near, 1 << 30)], ["image_id", "caption", "phash"]
    )
    docs = add_signatures(df, cfg)
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(pairs, docs, cfg, phash_col=None).first()
    # jaccard < 0.95 but simhash hamming small → near-exact channel fires
    assert got["jaccard"] < 0.95
    assert got["simhash_hamming"] <= MAX_HAMMING
    assert got["is_dup"] is True


def test_verify_lcs_channel(spark):
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.99, use_phash=False, lcs_min_ratio=0.7)
    contained = "exactly this long shared substring appears"
    df = spark.createDataFrame(
        [
            ("a", f"prefix junk {contained}", 0),
            ("b", f"{contained} other suffix material", 0),
        ],
        ["image_id", "caption", "phash"],
    )
    docs = add_signatures(df, cfg, phash_col="_none_")
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(pairs, docs, cfg, phash_col=None).first()
    assert got["lcs_ratio"] > 0.7
    assert got["is_dup"] is True


def test_verify_lcs_mode_keeps_prefilter(spark):
    """With the LCS channel ON, genuinely-dissimilar candidates must be
    pre-pruned BEFORE the suffix-automaton UDF (the pre-fix code set
    pre=True, funneling every candidate through per-pair Python); the
    true substring pair must still verify."""
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.99, use_phash=False,
                      lcs_min_ratio=0.7)
    contained = "exactly this long shared substring appears"
    df = spark.createDataFrame(
        [
            ("a", f"prefix junk {contained}", 0),
            ("b", f"{contained} other suffix material", 0),
            ("c", "zq zq completely unrelated text with nothing shared", 0),
            ("d", "different again xylophone quartz vortex blanket", 0),
        ],
        ["image_id", "caption", "phash"],
    )
    docs = add_signatures(df, cfg, phash_col="_none_")
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("a", "d")], ["id_a", "id_b"]
    )
    out = verify_pairs(pairs, docs, cfg, phash_col=None)
    rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    # the substring pair survives the screen and fires the LCS channel
    assert rows[("a", "b")]["lcs_ratio"] > 0.7
    assert rows[("a", "b")]["is_dup"] is True
    # dissimilar candidates are absent — pruned before the UDF stage
    assert ("c", "d") not in rows and ("a", "d") not in rows
