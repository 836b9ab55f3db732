"""Candidate-pair verification — the reference's "lsh + 过滤" filter stage
(dna_benchmark.h:197-225, filter :209-214) plus the graft's extra precision
paths (exact Jaccard, SimHash hamming, suffix-automaton LCS substring).

Everything cheap is a native column expression (minhash similarity, exact
Jaccard over shingle arrays, simhash hamming, phash hamming) so the verify
join output never leaves the JVM; only the optional LCS path (inherently
per-pair sequential) is a pandas UDF, and it runs last, on the
already-threshold-filtered remnant.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from lshdedup.config import DedupConfig
from lshdedup.minhash import minhash_similarity_expr
from lshdedup.shingle import distinct_char_shingles_expr, exact_jaccard_expr
from lshdedup.simhash import hamming_expr


def enrich_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """Attach per-side attribute columns to (id_a, id_b) pairs.

    Two hash equi-joins against the (much smaller) doc-attribute table;
    AQE broadcasts when the doc side fits.
    """
    left = docs.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    right = docs.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(left, "id_a").join(right, "id_b")


def longest_common_substring_ratio(a: str, b: str) -> float:
    """len(LCS-substring) / min(len) via a suffix automaton of ``a`` —
    O(|a|+|b|).  The "suffix-array substring path" of the north rule
    (NOT in the reference)."""
    if not a or not b:
        return 0.0
    if len(a) > len(b):
        a, b = b, a
    # suffix automaton over a
    link = [-1]
    length = [0]
    trans: list[dict[str, int]] = [{}]
    last = 0
    for ch in a:
        cur = len(length)
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(length)
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # walk b
    v, cur_len, best = 0, 0, 0
    for ch in b:
        while v and ch not in trans[v]:
            v = link[v]
            cur_len = length[v]
        if ch in trans[v]:
            v = trans[v][ch]
            cur_len += 1
            if cur_len > best:
                best = cur_len
    return best / min(len(a), len(b))


def lcs_ratio_udf():
    @F.pandas_udf(DoubleType())
    def lcs(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a, b in it:
            yield pd.Series(
                [
                    longest_common_substring_ratio(x or "", y or "")
                    for x, y in zip(a, b)
                ]
            )

    return lcs


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
    phash_col: str | None = "phash",
    sig_col: str = "sig",
    simhash_col: str | None = None,
) -> DataFrame:
    """Score candidate pairs and decide ``is_dup``.

    Emitted columns: id_a, id_b, mh_sim, jaccard, (phash_hamming),
    (simhash_hamming), (lcs_ratio), is_dup.  Pairs whose minhash estimate
    sits ≥6σ below the threshold (and that no other channel could accept)
    are pre-pruned and absent from the output — they could never verify.

    Decision (cfg.verify_mode):
      minhash        — mh_sim >= threshold (the reference's own filter,
                       dna_benchmark.h:209-214)
      exact          — exact caption Jaccard >= threshold, OR image
                       near-dup (phash hamming <= simhash_max_hamming), OR
                       near-exact caption (simhash hamming) when enabled
      exact+simhash  — as exact, with the simhash channel forced on
    """
    use_phash = phash_col is not None and cfg.use_phash and phash_col in docs.columns
    want_simhash = (
        cfg.verify_mode == "exact+simhash" and simhash_col is not None
    )
    # Shingle-derivation placement (r6; guide §8 "decide with small rows,
    # move/compute the heavy thing late"): the expensive per-side work —
    # distinct shingle set + xxhash64 per shingle, multi-KB arrays — is
    # DEFERRED below the enrich join and below the cheap prefilter
    # whenever the prefilter doesn't itself need gram counts:
    #   * join build sides carry the ~0.2 KB caption instead of a multi-KB
    #     shingle array per doc (smaller broadcast/shuffle);
    #   * docs in no candidate pair never compute shingles at all — at
    #     100 TB the corpus-wide prep was the dominant verify-stage cost;
    #   * with whole-stage codegen the post-filter projection evaluates
    #     only for pairs surviving the 6σ/phash screen (≈ true dups), so
    #     shingle work scales with |dups|, not |candidates| or |docs|.
    # Cost: a doc in several surviving pairs re-derives its set once per
    # pair (values identical; multiplicity bounded by bucket_cap).  The
    # LCS screen needs the gram intersection INSIDE the prefilter, so
    # that configuration keeps the per-doc precompute shape.
    # The deferral holds only if callers filter ``is_dup`` above a stage
    # boundary (dedup_pipeline's ``verified``): a filter straight on this
    # frame is pushed into the enrich join's condition, which then inlines
    # the shingle transform once per reference, for every candidate.
    # Pinned by test_pipeline.py::test_dup_pairs_plan_keeps_shingles_out_of_joins.
    # Exact Jaccard on 64-bit-hashed shingles equals string-set Jaccard up
    # to negligible collisions, and |A∪B| = |A|+|B|−|A∩B| means the union
    # array is never materialized (unchanged from r4).
    need_text = cfg.lcs_min_ratio > 0
    lcs_screen = need_text and cfg.lcs_screen_slack > 0
    defer_sh = cfg.verify_mode != "minhash" and not lcs_screen
    prep_cols = [F.col(id_col), F.col(sig_col)]
    if cfg.verify_mode != "minhash" and not defer_sh:
        sh = F.transform(
            distinct_char_shingles_expr(F.col(text_col), cfg.k),
            lambda s: F.xxhash64(s),
        )
        prep_cols += [sh.alias("_sh"), F.size(sh).alias("_nsh")]
    if need_text or defer_sh:
        prep_cols.append(F.col(text_col))
    if use_phash:
        prep_cols.append(F.col(phash_col))
    if want_simhash:
        prep_cols.append(F.col(simhash_col))
    prepped = docs.select(*prep_cols)

    cols = [c for c in prepped.columns if c != id_col]
    rich = enrich_pairs(pairs, prepped, id_col, cols)

    mh = minhash_similarity_expr(F.col(f"{sig_col}_a"), F.col(f"{sig_col}_b"))
    out = rich.withColumn("mh_sim", mh)
    if cfg.verify_mode == "minhash":
        out = out.withColumn("is_dup", F.col("mh_sim") >= cfg.threshold)
        keep = ["id_a", "id_b", "mh_sim", "is_dup"]
        return out.select(*keep)

    # cheap prefilter before the exact intersection: with n_perm lanes the
    # estimator's s.d. is ≤ 0.5/√n_perm, so a margin of 6σ below the
    # threshold cannot drop a true pair; phash-channel pairs are kept
    # unconditionally
    margin = 3.0 / (cfg.n_perm ** 0.5)
    pre = F.col("mh_sim") >= cfg.threshold - margin
    if use_phash:
        pre = pre | (
            hamming_expr(F.col(f"{phash_col}_a"), F.col(f"{phash_col}_b"))
            <= cfg.simhash_max_hamming
        )
    if want_simhash:
        pre = pre | (
            hamming_expr(F.col(f"{simhash_col}_a"), F.col(f"{simhash_col}_b"))
            <= cfg.simhash_max_hamming
        )
    if cfg.lcs_min_ratio > 0:
        # The LCS channel must NOT disable the prefilter (the
        # suffix-automaton UDF is the most expensive stage; it has to see a
        # bounded remnant, not every candidate).  Native screen, a pair
        # survives if EITHER holds within a 1/slack factor:
        #   * absolute bound — a common substring of length L contributes
        #     at most L-k+1 shared k-grams, so gram intersection near
        #     ceil(ρ·min_len)-k+1;
        #   * containment bound — the substring covers ≥ρ of the SMALLER
        #     doc, so a large share of its DISTINCT grams is shared; this
        #     keeps low-entropy docs (few distinct grams in a long repeat)
        #     the absolute bound would drop.
        # The screen is a heuristic (adversarial content can still evade
        # it); lcs_screen_slack <= 0 disables it and restores the
        # scan-every-candidate behavior at its full cost.
        if cfg.lcs_screen_slack <= 0:
            pre = F.lit(True)
        else:
            inter_pre = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
            min_len = F.least(
                F.length(F.col(f"{text_col}_a")), F.length(F.col(f"{text_col}_b"))
            )
            required = F.ceil(F.lit(cfg.lcs_min_ratio) * min_len) - F.lit(cfg.k - 1)
            smaller_nsh = F.least(F.col("_nsh_a"), F.col("_nsh_b"))
            slack = F.lit(cfg.lcs_screen_slack)
            pre = (
                pre
                | (inter_pre * slack >= required)
                | (inter_pre * slack >= F.lit(cfg.lcs_min_ratio) * smaller_nsh)
            )
    out = out.filter(pre)
    if defer_sh:
        # derive the hashed shingle sets NOW — after the join, after the
        # prefilter — as real projection columns so each evaluates once
        for side in ("a", "b"):
            sh_side = F.transform(
                distinct_char_shingles_expr(F.col(f"{text_col}_{side}"), cfg.k),
                lambda s: F.xxhash64(s),
            )
            out = out.withColumn(f"_sh_{side}", sh_side).withColumn(
                f"_nsh_{side}", F.size(F.col(f"_sh_{side}"))
            )
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    union = F.col("_nsh_a") + F.col("_nsh_b") - inter
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)
    out = out.withColumn("jaccard", jac)
    dup: Column = F.col("jaccard") >= cfg.threshold
    keep = ["id_a", "id_b", "mh_sim", "jaccard"]
    if use_phash:
        out = out.withColumn(
            "phash_hamming",
            hamming_expr(F.col(f"{phash_col}_a"), F.col(f"{phash_col}_b")),
        )
        dup = dup | (F.col("phash_hamming") <= cfg.simhash_max_hamming)
        keep.append("phash_hamming")
    if want_simhash:
        out = out.withColumn(
            "simhash_hamming",
            hamming_expr(F.col(f"{simhash_col}_a"), F.col(f"{simhash_col}_b")),
        )
        dup = dup | (F.col("simhash_hamming") <= cfg.simhash_max_hamming)
        keep.append("simhash_hamming")
    if cfg.lcs_min_ratio > 0:
        out = out.withColumn(
            "lcs_ratio", lcs_ratio_udf()(F.col(f"{text_col}_a"), F.col(f"{text_col}_b"))
        )
        dup = dup | (F.col("lcs_ratio") >= cfg.lcs_min_ratio)
        keep.append("lcs_ratio")
    out = out.withColumn("is_dup", dup)
    keep.append("is_dup")
    return out.select(*keep)
