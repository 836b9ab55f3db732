"""Run configuration.

The reference burns every parameter in at compile time via C++ templates
(k, n_permutation, b, r, seed, threshold — e.g. dna_benchmark.h:28-42,
minhash.h:85, lsh.h:90-110).  Here they form one dataclass that is recorded
with every output table, so "identical shingle/signature config" is a
checkable property of a run.  The permutation table itself is derived
deterministically from (seed, n_perm) — see hashing.generate_permutations —
and is therefore part of the config by construction.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field, replace
from typing import Optional

MERSENNE_61 = (1 << 61) - 1  # hash.h:25-27 mersenne_prime_for_generate_64_hash
MERSENNE_31 = (1 << 31) - 1  # hash.h:28-30


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the dedup pipeline (reference template params → runtime)."""

    # --- shingling (k_shingles.h) ---
    k: int = 5                    # sliding window size [k_shingles.h:67-85]

    # --- minhash (minhash.h) ---
    n_perm: int = 128             # n_permutation default [minhash.h:85]
    seed: int = 1                 # RandomHashPermutation seed [minhash.h:58]
    minhash_bits: int = 64        # 32 = reference MinHashBits=32: element hash
                                  # folds % 2^31-1 [hash.h:52-60] AND signature
                                  # values mask & 0xFFFFFFFF per element
                                  # [minhash.h:144-146]; consumed by minhash.py
    sig_scheme: str = "kperm"     # "kperm"     — classic 128-perm, PCG64 table,
                                  #               FNV elements (documented deviation)
                                  # "kperm-ref" — BIT-EXACT reference parity:
                                  #               mt19937_64+libstdc++ table,
                                  #               XXH64 elements (refrng.py)
                                  # "oph"       — one-permutation hashing (scale
                                  #               path, O(n_grams))

    # --- LSH banding (lsh.h) ---
    threshold: float = 0.7        # candidate-verify threshold [dna_benchmark.h:29]
    fp_weight: float = 0.5        # false-positive weight [lsh.h:90]
    fn_weight: float = 0.5        # false-negative weight
    b: Optional[int] = None       # bands; None → optimal_params [lsh.h:56-80]
    r: Optional[int] = None       # rows per band

    # --- image path (graft-specific; NOT in reference) ---
    use_phash: bool = True        # blend pHash-derived image shingles
    phash_window_bits: int = 16   # sliding bit-window width over the 64-bit phash
    phash_window_step: int = 4    # step between windows

    # --- skew / scale (north_rule; reference has none) ---
    bucket_cap: int = 4096        # drop band buckets larger than this (log metric)
    pair_salt: int = 0            # extra repartition salt for pair-gen (0 = AQE only)

    # --- verification (dna_benchmark.h:197-225 + graft extensions) ---
    verify_mode: str = "exact"    # "minhash" | "exact" | "exact+simhash"
    simhash_max_hamming: int = 3
    lcs_min_ratio: float = 0.0    # >0 enables suffix-automaton LCS check.
                                  # NOTE: with the default screen below,
                                  # pairs whose common substring contributes
                                  # few DISTINCT k-grams (mixed low/high-
                                  # entropy docs) can be screened out — a
                                  # recall heuristic, not an exact bound.
    lcs_screen_slack: int = 4     # native pre-LCS screen slack (verify.py):
                                  # keep pairs with gram inter within 1/slack
                                  # of the length OR containment bound.
                                  # <= 0 disables screening: exact recall,
                                  # but the suffix-automaton UDF then runs
                                  # on EVERY candidate pair —
                                  # O(candidates × |doc|) Python, a
                                  # scale-killer on large corpora.

    # --- execution (not in the checkpoint fingerprint) ---
    run_id: str = "run0"
    checkpoint_dir: Optional[str] = None
    shuffle_partitions: int = 32  # read by nothing; still accepted because
                                  # bench.py and perfbench pass it

    def resolved(self, optimal) -> "DedupConfig":
        """Fill (b, r) via the optimizer if unset; returns a new config."""
        if self.b is not None and self.r is not None:
            return self
        b, r = optimal(self.n_perm, self.threshold, self.fp_weight, self.fn_weight)
        return replace(self, b=b, r=r)

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "DedupConfig":
        return DedupConfig(**json.loads(s))
