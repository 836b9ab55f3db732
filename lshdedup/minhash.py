"""MinHash signature stage — one fused shingle→hash→signature pandas UDF.

The reference signs one document at a time: 128 Eigen lanes folded over the
document's shingle hashes (minhash.h:135-169), with an LRU cache memoizing
per-shingle lane rows (minhash.h:102-104, lru_cache.h).  The Spark-first
shape is the transpose: an Arrow batch of documents → one flat uint64 gram
array → permutation-block numpy passes with per-document segment minima
(hashing.minhash_segments).  No shuffle: caption → signature is a narrow map.

The LRU cache is deliberately NOT ported — it is a single-machine perf trick
(SURVEY §4.4); duplicate grams cannot change a minimum, so corpus-level
dedup is unnecessary for correctness and the batch math already amortizes.

Every scheme signs through one UDF (signature_udf), and pHash image
shingles merge inside it, in the same Arrow batch, by element-wise min:
min over (A ∪ B) == elementwise-min(min over A, min over B).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from lshdedup.config import DedupConfig
from lshdedup.hashing import (
    generate_permutations,
    minhash_fixed,
    minhash_segments,
    oph_densify,
    oph_raw,
    phash_window_hashes,
    ragged_valid_indices,
    series_grams,
    splitmix64,
)
from lshdedup.simhash import simhash_udf


@lru_cache(maxsize=8)
def _perms(n_perm: int, seed: int, scheme: str = "kperm"):
    """(a, b) permutation table.  "kperm" draws from PCG64 (documented
    deviation, SURVEY §7.4); "kperm-ref" reproduces the reference's
    mt19937_64 + libstdc++ uniform_int_distribution draw bit-exactly
    (refrng.ref_permutations, pinned against a compiled-C++ golden)."""
    if scheme == "kperm-ref":
        from lshdedup.refrng import ref_permutations

        return ref_permutations(n_perm, seed)
    return generate_permutations(n_perm, seed)


def _scheme_knobs(cfg: DedupConfig):
    """(hasher, elem_mod, vmask) for the kperm family.

    hasher   — window hash: FNV-1a ("kperm") or XXH64 seed 0 ("kperm-ref",
               the reference's element hash, hash.h:14-21);
    elem_mod — element-hash fold % 2^31-1 when minhash_bits=32
               (XXStringViewHash32, hash.h:52-60);
    vmask    — per-element signature mask & 0xFFFFFFFF when minhash_bits=32
               (minhash.h:144-146).
    """
    if cfg.sig_scheme == "kperm-ref":
        from lshdedup.refrng import xxh64_windows

        hasher = lambda w: xxh64_windows(w, 0)  # noqa: E731
    else:
        hasher = None  # fnv1a_windows default
    from lshdedup.config import MERSENNE_31

    elem_mod = MERSENNE_31 if cfg.minhash_bits == 32 else None
    vmask = 0xFFFFFFFF if cfg.minhash_bits == 32 else None
    return hasher, elem_mod, vmask


def _sig_to_series(sig: np.ndarray) -> pd.Series:
    # uint64 mod 2^61-1 always fits in signed int64
    signed = sig.astype(np.int64)
    return pd.Series(list(signed))


def _phash_windows(phashes: pd.Series) -> np.ndarray:
    """(n, m) uint64 pHash bit-window shingles; a null pHash signs as 0."""
    return phash_window_hashes(phashes.fillna(0).to_numpy(dtype=np.int64))


def signature_udf(cfg: DedupConfig, with_phash: bool):
    """pandas UDF: caption[, pHash] → array<long> signature, for every
    ``cfg.sig_scheme``.

    Fuses split_k_shingling_fast (k_shingles.h:67-85) + element hashing
    (hash.h:89-141) + MinHash::update (minhash.h:153-169) into one
    vectorized pass per Arrow batch.  with_phash=True takes (caption,
    phash) and signs the UNION of the caption k-grams and the pHash
    bit-window shingles (hashing.phash_window_hashes) in the same pass:
    kperm's two signatures merge by element-wise min, OPH's two raw bucket
    matrices merge by element-wise min BEFORE densification — both exact,
    since the min over (A ∪ B) is the min of the two minima.
    """
    k, n_perm, seed, scheme = cfg.k, cfg.n_perm, cfg.seed, cfg.sig_scheme
    hasher, elem_mod, vmask = _scheme_knobs(cfg)

    def sign_oph(texts: pd.Series, phashes: pd.Series | None) -> np.ndarray:
        flat, bounds, _, _ = series_grams(texts, k)  # Arrow-native (r5)
        idx, lens = ragged_valid_indices(bounds)
        raw = oph_raw(flat[idx], lens, n_perm, seed)
        if phashes is not None:
            wins = _phash_windows(phashes)
            lens = np.full(len(texts), wins.shape[1], dtype=np.int64)
            img = oph_raw(wins.reshape(-1), lens, n_perm, seed)
            raw = np.minimum(raw, img)
        return oph_densify(raw, n_perm, seed)

    def sign_kperm(texts: pd.Series, phashes: pd.Series | None) -> np.ndarray:
        a, b = _perms(n_perm, seed, scheme)
        # Arrow-native marshalling: UTF-8 encode + row lengths + <k padding
        # all C-side/numpy (hashing.series_grams) — no per-row Python
        # objects in the signature hot path (r5)
        flat, bounds, data, offs = series_grams(texts, k, hasher)
        if scheme == "kperm-ref":
            # reference parity for <k strings: split_k_shingling_fast
            # returns the WHOLE short string unpadded (k_shingles.h:68-71);
            # overwrite the padded-window hash.  Scalar loop touches only
            # the rare short rows.
            from lshdedup.refrng import xxh64

            for i in np.nonzero(np.diff(offs) < k)[0]:
                t = data[offs[i] : offs[i + 1]].tobytes()
                flat[bounds[i, 0]] = np.uint64(xxh64(t, 0))
        if elem_mod is not None:
            flat = flat % np.uint64(elem_mod)
        out = minhash_segments(flat, bounds, a, b, vmask=vmask)
        if phashes is not None:
            wins = _phash_windows(phashes)
            if elem_mod is not None:
                wins = wins % np.uint64(elem_mod)
            out = np.minimum(out, minhash_fixed(wins, a, b, vmask=vmask))
        return out

    sign = sign_oph if scheme == "oph" else sign_kperm

    if with_phash:

        @F.pandas_udf(ArrayType(LongType()))
        def sig2(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
            for texts, phashes in it:
                yield _sig_to_series(sign(texts, phashes))

        return sig2

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in texts:
            yield _sig_to_series(sign(batch, None))

    return sig


def token_hash_signature_udf(cfg: DedupConfig):
    """pandas UDF: array<long> element hashes → array<long> signature.

    The word-set path (test.h fixtures) and any pre-hashed shingle source:
    tokens are hashed JVM-side (xxhash64) then signed here.  splitmix64 is
    applied on top so the JVM hash's seed choice can't correlate with the
    permutation family.
    """
    n_perm, seed, scheme = cfg.n_perm, cfg.seed, cfg.sig_scheme

    @F.pandas_udf(ArrayType(LongType()))
    def sig(hash_arrays: Iterator[pd.Series]) -> Iterator[pd.Series]:
        a, b = _perms(n_perm, seed, scheme)
        for batch in hash_arrays:
            arrs = [
                np.asarray(v, dtype=np.int64).view(np.uint64)
                if v is not None
                else np.empty(0, dtype=np.uint64)
                for v in batch
            ]
            real = np.fromiter((x.size for x in arrs), count=len(arrs), dtype=np.int64)
            lens = np.maximum(real, 1)  # empty rows sign the {0} singleton
            offs = np.zeros(len(arrs) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            flat = np.zeros(int(offs[-1]), dtype=np.uint64)
            total = int(real.sum())
            if total:
                cat = np.concatenate([x for x in arrs if x.size])
                # scatter the concatenated values into the padded layout —
                # ONE splitmix pass for the whole batch, no per-row hashing
                cum = np.zeros(len(arrs), dtype=np.int64)
                np.cumsum(real[:-1], out=cum[1:])
                tgt = np.repeat(offs[:-1] - cum, real) + np.arange(total, dtype=np.int64)
                flat[tgt] = splitmix64(cat)
            bounds = np.stack([offs[:-1], offs[1:]], axis=1)
            out = minhash_segments(flat, bounds, a, b)
            yield _sig_to_series(out)

    return sig


def minhash_similarity_expr(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of equal lanes (minhash.h:188-207),
    as a native expression (no UDF on the verify hot path).

    size(filter(zip_with(=))) instead of aggregate(zip_with(cast)) — the
    same integer equal-lane count (bit-identical quotient), measured ~3x
    cheaper: one interpreted lambda pass instead of two, and no per-lane
    int casts.  This is the per-candidate hot expression of the verify
    prefilter (evaluated once per candidate pair).

    NULL when the signatures differ in length: zip_with pads the shorter
    one with NULLs, which would otherwise count as unequal lanes."""
    eq = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    return F.when(F.size(sig_a) == F.size(sig_b), eq.cast("double") / F.size(sig_a))


def add_signatures(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "caption",
    phash_col: str | None = "phash",
    out_col: str = "sig",
) -> DataFrame:
    """Attach the signature column, plus every other per-doc column that
    verify_pairs reads under ``cfg``: ``simhash`` when
    ``cfg.verify_mode == "exact+simhash"``.

    The pHash channel joins the signature when ``cfg.use_phash`` and
    ``phash_col`` is a column of ``df`` (signature_udf).  Narrow
    transformation — no shuffle is introduced here.

    cfg.sig_scheme: "kperm" = classic (a*h+b) mod p over 128 permutations
    (reference-parity path, minhash.h:135-169); "oph" = one-permutation
    hashing (scale path — see hashing.oph_raw).

    A plain under-parallel scan (single-row-group parquet file) is fanned
    out first so the signature UDF uses every core instead of one task
    (util.fan_out: conditional, no-op on already-parallel inputs).
    """
    from lshdedup.util import fan_out

    df = fan_out(df)
    use_ph = cfg.use_phash and phash_col in df.columns
    cols = [F.col(text_col)] + ([F.col(phash_col)] if use_ph else [])
    out = df.withColumn(out_col, signature_udf(cfg, use_ph)(*cols))
    if cfg.verify_mode == "exact+simhash":
        out = out.withColumn("simhash", simhash_udf(cfg)(F.col(text_col)))
    return out
