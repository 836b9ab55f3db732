"""DNA 2-bit packed shingling (k_shingles.h:106-221) — Spark-native.

The reference packs each A/T/C/G k-gram into a bitset<2k> (encode
k_shingles.h:149-180, decode :184-198, split :200-221).  For k ≤ 31 the
packed value fits an int64, so the Spark form is a native column pipeline:
sliding windows → per-base 2-bit code → polynomial fold — no UDF, stays in
whole-stage codegen.  Decode is provided for debugging parity (lossy for
len < k, as documented at k_shingles.h:182-183).

Encoding (MSB-first, matching the reference's bitset layout):
A=00, T=01, C=10, G=11 (k_shingles.h:152-158).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CODE = {"A": 0, "T": 1, "C": 2, "G": 3}
_BASE = "ATCG"


def encode_dna(seq: str, k: int) -> int:
    """Scalar reference encoder (tests): seq (len ≤ k) → packed int,
    MSB-first over 2k bits; shorter strings occupy the high positions
    (mirrors k_shingles.h:164-178)."""
    v = 0
    for i, ch in enumerate(seq):
        code = _CODE[ch]
        shift = 2 * (k - 1 - i)
        v |= code << shift
    return v


def decode_dna(value: int, k: int) -> str:
    """Inverse of encode_dna; lossy for len < k (k_shingles.h:182-198):
    trailing A's are indistinguishable from padding."""
    out = []
    for i in range(k):
        shift = 2 * (k - 1 - i)
        out.append(_BASE[(value >> shift) & 3])
    s = "".join(out)
    return s.rstrip("A") or "A"


def dna_code_expr(ch: Column) -> Column:
    """Per-base 2-bit code as a native CASE expression."""
    return (
        F.when(ch == "A", F.lit(0))
        .when(ch == "T", F.lit(1))
        .when(ch == "C", F.lit(2))
        .otherwise(F.lit(3))  # G
    )


def dna_shingles_expr(seq: Column | str, k: int) -> Column:
    """array<long> of packed k-gram values (with duplicates) — the Spark
    form of split_dna_shingling (k_shingles.h:200-221).  len < k → the
    whole sequence packed into the high bits (one shingle).

    Pure column expressions: sequence → transform(substring) →
    aggregate-fold of 2-bit codes.
    """
    seq = F.col(seq) if isinstance(seq, str) else seq
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(seq) - F.lit(k - 1), F.lit(1))),
        lambda i: F.substring(seq, i, k),
    )

    def pack(gram: Column) -> Column:
        chars = F.split(gram, "")  # array of single chars ('' split keeps chars)
        padded = F.concat(
            chars, F.array_repeat(F.lit("A"), F.lit(k) - F.size(chars))
        )
        return F.aggregate(
            padded,
            F.lit(0).cast("long"),
            lambda acc, ch: acc * 4 + dna_code_expr(ch).cast("long"),
        )

    return F.transform(grams, pack)


def distinct_dna_shingles_expr(seq: Column | str, k: int) -> Column:
    return F.array_distinct(dna_shingles_expr(seq, k))


def dna_dup_graph(
    reads: DataFrame,
    cfg,
    id_col: str = "read_id",
    seq_col: str = "seq",
    persisted: list | None = None,
) -> DataFrame:
    """The reference's flagship DNA dup-graph pipeline (dna_benchmark.h
    §3.1) on Spark: packed shingles → token-hash MinHash signatures → LSH
    banding → bucket id arrays → exact packed-shingle Jaccard verify →
    edge list (id_a, id_b, sim)."""
    from lshdedup.lsh import candidate_pairs, explode_bands
    from lshdedup.minhash import token_hash_signature_udf
    from lshdedup.shingle import exact_jaccard_expr
    from lshdedup.util import fan_out, persist_stage

    # the packed-shingle derivation below is an interpreted higher-order
    # fold per gram — by far the heaviest narrow work here; spread an
    # under-parallel scan across the cores first (no-op when already wide)
    reads = fan_out(reads)
    shingled = reads.select(
        F.col(id_col),
        F.col(seq_col),
        distinct_dna_shingles_expr(seq_col, cfg.k).alias("sh"),
    )
    signed = persist_stage(
        shingled.withColumn("sig", token_hash_signature_udf(cfg)(F.col("sh"))))
    if persisted is not None:
        persisted.append(signed)
    buckets = explode_bands(signed, id_col, "sig", cfg)
    pairs, _ = candidate_pairs(buckets, id_col, cfg)
    a = signed.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = signed.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("sim", exact_jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("sim") >= cfg.threshold)
        .select("id_a", "id_b", "sim")
    )
