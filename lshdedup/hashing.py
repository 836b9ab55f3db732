"""Vectorized 64-bit hashing + MinHash permutation math (numpy core).

This is the numpy re-expression of the reference's per-element signature
update (minhash.h:135-169): for a universal-hash family
``row = ((A*h + B) mod 2^64) mod p`` with ``p = 2^61-1`` (hash.h:25-27), the
signature is the element-wise minimum over a document's shingle hashes.
The reference updates 128 Eigen lanes per element (minhash.h:96-99,141-146);
we transpose that: one numpy pass per permutation *block* over ALL elements
of an Arrow batch, reduced per-document with ``np.minimum.reduceat``.

Everything here is pure numpy on uint64 — uint64 wraps mod 2^64 exactly like
the reference's Eigen uint64 arrays (pinned by tests/test_hashing.py), and
no value ever escapes to a Python int inside the hot loop.

The element hash is FNV-1a 64 over the k-byte window (the reference uses
xxHash64 seed 0, hash.h:14-21; the exact hash family is part of the run
config — any well-mixed 64-bit hash yields the same MinHash estimator
guarantees, and recall is measured at identical config).
"""

from __future__ import annotations

import numpy as np

from lshdedup.config import MERSENNE_61

U64 = np.uint64
_FNV_OFFSET = U64(0xCBF29CE484222325)
_FNV_PRIME = U64(0x100000001B3)
_P61 = U64(MERSENNE_61)

# splitmix64 constants (Steele et al., public domain; used for int64 keys)
_SM_GAMMA = U64(0x9E3779B97F4A7C15)
_SM_M1 = U64(0xBF58476D1CE4E5B9)
_SM_M2 = U64(0x94D049BB133111EB)

# ---------------------------------------------------------------------------
# Worker-persistent scratch arena.
#
# On throttled/virtualized hosts, first-touch page faults on fresh
# allocations can cost ~100x the arithmetic they serve (measured here:
# ~170 s/GB first-touch vs 11 ns/elem warm uint64 math).  numpy temporaries
# above the malloc mmap threshold are mmap'd AND munmap'd per expression, so
# every hot-loop temp pays that price again.  Spark reuses Python workers
# across tasks, so buffers cached at module level amortize the fault cost to
# once per (worker, size-class) instead of once per expression per batch.
# ---------------------------------------------------------------------------
_SCRATCH: dict[str, np.ndarray] = {}
_SCRATCH_SMALL: dict[str, int] = {}  # consecutive far-below-capacity requests


def scratch(key: str, shape: tuple[int, ...], dtype=U64) -> np.ndarray:
    """A reusable uninitialized buffer of ``shape``/``dtype`` per key.

    Persists for the life of the Python worker (1.25x headroom on growth).
    Contents are garbage — callers must fully overwrite.

    NOT thread-safe by design: Spark Python workers are single-threaded
    (one task at a time per worker process), which is the only reason a
    module-level arena is sound.  Do not call from multi-threaded driver
    code.

    Shrink policy: one outlier Arrow batch must not pin its high-water
    mark forever (tens of MB per key per worker, multiplied across
    executors).  A >1 MB buffer is reallocated at the requested size after
    8 CONSECUTIVE requests below 1/4 of its capacity — hysteresis, because
    every task's final partial batch is small and eager shrinking would
    re-pay the (expensive) first-touch fault at each task boundary.
    """
    n = 1
    for s in shape:
        n *= int(s)
    need = n * np.dtype(dtype).itemsize
    buf = _SCRATCH.get(key)
    if buf is not None and buf.nbytes > 1 << 20 and need * 4 < buf.nbytes:
        _SCRATCH_SMALL[key] = _SCRATCH_SMALL.get(key, 0) + 1
        if _SCRATCH_SMALL[key] >= 8:
            buf = None  # shrink: realloc at the current working-set size
    else:
        _SCRATCH_SMALL[key] = 0
    if buf is None or buf.nbytes < need:
        buf = np.empty(int(need * 1.25) + 64, dtype=np.uint8)
        _SCRATCH[key] = buf
        _SCRATCH_SMALL[key] = 0
    return buf[:need].view(dtype).reshape(shape)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — our 64-bit integer hash.

    Plays the role of the reference's ``xx_Hash<uint64_t>`` single-value
    overload (hash.h:186-190).
    """
    z = x.astype(U64, copy=True) + _SM_GAMMA
    z = (z ^ (z >> U64(30))) * _SM_M1
    z = (z ^ (z >> U64(27))) * _SM_M2
    return z ^ (z >> U64(31))


def fnv1a_windows(windows: np.ndarray, seed: int = 0) -> np.ndarray:
    """FNV-1a 64 over each row of a (n, k) uint8 matrix → (n,) uint64.

    The vectorized stand-in for hashing every k-shingle string_view
    (hash.h:14-21 + element_wise_hash hash.h:89-141): k is tiny, so the
    loop is over k with every iteration vectorized across all n windows.
    """
    h = np.full(windows.shape[0], _FNV_OFFSET ^ U64(seed), dtype=U64)
    col = scratch("fnv_col", (windows.shape[0],))
    for j in range(windows.shape[1]):
        np.copyto(col, windows[:, j], casting="unsafe")
        np.bitwise_xor(h, col, out=h)
        np.multiply(h, _FNV_PRIME, out=h)
    return h


def fnv1a_flat(
    flat: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    seed: int = 0,
    max_matrix_bytes: int = 32 << 20,
) -> np.ndarray:
    """FNV-1a 64 of each slice ``flat[starts[i] : starts[i]+lens[i]]`` →
    (n,) uint64, equal element-wise to fnv1a_bytes (pinned by tests).
    This is the offsets-form core — it consumes an Arrow-style
    (value buffer, offsets) pair directly, so callers holding a
    StringArray/BinaryArray never materialize per-token Python bytes.

    Vectorized across tokens: a padded byte matrix, loop over the max
    token length with a live-row mask — O(max_len) vector ops instead of
    O(total_bytes) interpreted steps.  The padded matrix is
    n_tokens × max_len, so ONE pathological long token (a megabyte URL in
    a 100k-token batch) would otherwise inflate it by orders of magnitude;
    tokens are therefore processed in length-sorted groups whose matrix
    stays under ``max_matrix_bytes``, which also keeps each group's
    padding waste small."""
    n = lens.size
    if n == 0:
        return np.empty(0, dtype=U64)
    out = np.full(n, _FNV_OFFSET ^ U64(seed), dtype=U64)
    if int(lens.max()) == 0:
        return out
    order = np.argsort(lens, kind="stable")
    start = 0
    while start < n:
        end = start
        gmax = 0
        while end < n:
            cand_max = int(lens[order[end]])
            if end > start and (end - start + 1) * max(gmax, cand_max) > max_matrix_bytes:
                break
            gmax = max(gmax, cand_max)
            end += 1
        idx = order[start:end]
        glens = lens[idx]
        g = idx.size
        if gmax == 0:
            start = end
            continue
        buf = np.zeros((g, gmax), dtype=np.uint8)
        rr = np.repeat(np.arange(g), glens)
        total = int(glens.sum())
        cc = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(glens[:-1]))), glens
        )
        src = np.repeat(starts[idx], glens) + cc
        buf[rr, cc] = flat[src]
        h = np.full(g, _FNV_OFFSET ^ U64(seed), dtype=U64)
        for j in range(gmax):
            live = glens > j
            hj = (h ^ buf[:, j].astype(U64)) * _FNV_PRIME
            h = np.where(live, hj, h)
        out[idx] = h
        start = end
    return out


def fnv1a_varlen(
    tokens: list[bytes], seed: int = 0, max_matrix_bytes: int = 32 << 20
) -> np.ndarray:
    """FNV-1a 64 of each variable-length byte string → (n,) uint64.
    List-of-bytes convenience wrapper over fnv1a_flat (one C-level join
    builds the flat buffer; the hashing itself is the shared padded-matrix
    core)."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=U64)
    lens = np.fromiter((len(t) for t in tokens), count=n, dtype=np.int64)
    flat = np.frombuffer(b"".join(tokens), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens[:-1])))
    return fnv1a_flat(flat, starts, lens, seed, max_matrix_bytes)


def fnv1a_bytes(data: bytes, seed: int = 0) -> int:
    """Scalar FNV-1a 64 of arbitrary-length bytes (short-string fallback:
    strings shorter than k become one whole-string shingle,
    k_shingles.h:74-77)."""
    h = int(_FNV_OFFSET) ^ seed
    for byte in data:
        h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def generate_permutations(n_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(A, B) universal-hash parameter vectors.

    Mirrors RandomHashPermutation (minhash.h:25-67): ``a ~ U[1, p-1]``,
    ``b ~ U[0, p-1]``, ``p = 2^61-1``.  The reference draws from
    std::mt19937_64 + an implementation-defined uniform_int_distribution;
    the drawn table is part of the run config (SURVEY §7.4), so we pin a
    well-specified generator (PCG64) instead of chasing libstdc++
    bit-compatibility.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, MERSENNE_61, size=n_perm, dtype=np.uint64)
    b = rng.integers(0, MERSENNE_61, size=n_perm, dtype=np.uint64)
    return a, b


def minhash_segments(
    hashes: np.ndarray,
    bounds: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    block: int = 16,
    vmask: int | None = None,
) -> np.ndarray:
    """MinHash signatures for variable-length segments of a flat hash array.

    hashes : (n_items,) uint64 — element hashes for ALL rows of a batch,
             concatenated (row i owns hashes[bounds[i,0]:bounds[i,1]]).
    bounds : (n_rows, 2) int64 start/end, end > start for every row.
    a, b   : (n_perm,) uint64 permutation params.
    returns: (n_rows, n_perm) uint64 signatures.

    Semantics: signature[i, j] = min over row i's elements of
    ``((a[j]*h + b[j]) mod 2^64) mod (2^61-1)`` — exactly
    MinHash::update over a set (minhash.h:153-169, init-to-max :113).
    Duplicate elements cannot change a min, so weighted shingle multisets
    (k_shingles.h:82) need no dedup here.

    vmask: optional per-ELEMENT value mask applied after the mod — the
    reference's MinHashBits=32 stores ``(x mod p) & 0xFFFFFFFF`` per element
    BEFORE the min (minhash.h:144-146), which changes which element wins,
    so the mask cannot be applied to the reduced signature.
    """
    n_rows = bounds.shape[0]
    n_perm = a.shape[0]
    # sentinel so every reduceat end index stays < len
    h = np.empty(hashes.size + 1, dtype=U64)
    h[:-1] = hashes
    h[-1] = U64(0)
    idx = bounds.astype(np.int64, copy=False).reshape(-1)
    out = np.empty((n_rows, n_perm), dtype=U64)
    # Batch-level gram dedup — the reference's LRU cache effect
    # (minhash.h:102-104): permutation math runs once per DISTINCT hash,
    # then a gather rebuilds per-position rows for the segment minima.
    # Real text repeats grams heavily, so n_uniq << n; the gather (one
    # pass) replaces two of the three arithmetic passes per duplicate.
    # Skipped when dedup wouldn't pay (mostly-unique hashes).
    uniq, inv = np.unique(h, return_inverse=True)
    use_uniq = uniq.size <= (h.size * 3) // 4
    # One worker-persistent scratch buffer, ALL block math in-place.  Fresh
    # multi-hundred-MB temporaries per block would be mmap'd/munmap'd by the
    # allocator each iteration and first-touch page faults dominate the whole
    # stage (measured ~100x slower, worse under many concurrent executors).
    tmp = scratch("mh_seg", (min(block, n_perm), h.size))
    tu = scratch("mh_seg_u", (min(block, n_perm), uniq.size)) if use_uniq else None
    for s in range(0, n_perm, block):
        blk = min(block, n_perm - s)
        t = tmp[:blk]
        if use_uniq:
            u = tu[:blk]
            np.multiply(a[s : s + blk, None], uniq[None, :], out=u)  # mod 2^64
            np.add(u, b[s : s + blk, None], out=u)
            np.mod(u, _P61, out=u)
            if vmask is not None:
                np.bitwise_and(u, U64(vmask), out=u)
            np.take(u, inv, axis=1, out=t)  # gather back to positions
        else:
            np.multiply(a[s : s + blk, None], h[None, :], out=t)  # mod 2^64
            np.add(t, b[s : s + blk, None], out=t)
            np.mod(t, _P61, out=t)
            if vmask is not None:
                np.bitwise_and(t, U64(vmask), out=t)
        red = np.minimum.reduceat(t, idx, axis=1)
        out[:, s : s + blk] = red[:, ::2].T
    return out


def minhash_fixed(
    hashes: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    block: int = 16,
    vmask: int | None = None,
) -> np.ndarray:
    """MinHash over a fixed-width (n_rows, m) hash matrix (e.g. the 16
    pHash windows per image).  Same math as minhash_segments."""
    n_rows, m = hashes.shape
    n_perm = a.shape[0]
    out = np.empty((n_rows, n_perm), dtype=U64)
    h = hashes.astype(U64, copy=False)
    for s in range(0, n_perm, block):
        blk = min(block, n_perm - s)
        t = scratch("mh_fix", (n_rows, m, blk))
        np.multiply(h[:, :, None], a[s : s + blk][None, None, :], out=t)
        np.add(t, b[s : s + blk][None, None, :], out=t)
        np.mod(t, _P61, out=t)
        if vmask is not None:
            np.bitwise_and(t, U64(vmask), out=t)
        out[:, s : s + blk] = t.min(axis=1)
    return out


def char_shingle_hashes(
    texts: list[bytes], k: int, hasher=None
) -> tuple[np.ndarray, np.ndarray]:
    """All k-byte sliding-window hashes for a batch of byte strings.

    Re-expresses split_k_shingling_fast (k_shingles.h:67-85) without
    materializing shingle strings: texts shorter than k contribute ONE
    whole-string shingle (k_shingles.h:74-77; they are zero-padded to k so
    the window machinery still sees exactly one gram — padding only ever
    applies to <k strings, so no collision with genuine k-grams is
    possible for same-length content).

    Returns (flat_hashes uint64, bounds int64 (n_rows, 2)).
    """
    n = len(texts)
    padded = [t if len(t) >= k else t + b"\x00" * (k - len(t)) for t in texts]
    lens = np.fromiter((len(t) for t in padded), count=n, dtype=np.int64)
    buf = np.frombuffer(b"".join(padded), dtype=np.uint8)
    return _gram_hashes(buf, lens, k, hasher)


def _gram_hashes(
    buf: np.ndarray, lens: np.ndarray, k: int, hasher=None
) -> tuple[np.ndarray, np.ndarray]:
    """Shared windowing+hash core over a flat byte buffer: rows are the
    contiguous segments of ``buf`` with lengths ``lens`` (each >= k)."""
    if buf.size == 0:
        return np.empty(0, dtype=U64), np.zeros((0, 2), dtype=np.int64)
    n = lens.size
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    windows = np.lib.stride_tricks.sliding_window_view(buf, k) if buf.size >= k else buf[None, :]
    flat = (hasher or fnv1a_windows)(windows)
    starts = offs[:-1]
    ends = offs[:-1] + (lens - k + 1)  # grams fully inside the row
    return flat, np.stack([starts, ends], axis=1)


def series_grams(
    texts, k: int, hasher=None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Arrow-native char_shingle_hashes for a pandas Series of strings
    (the signature-UDF hot path — VERDICT r4 item 3): UTF-8 marshalling
    happens once in Arrow C++ (``pa.array``), row lengths come from the
    StringArray offsets buffer, and <k zero-padding is a single numpy
    scatter — no per-row Python object is created anywhere.

    Returns (flat_hashes, bounds, data, offs): data/offs expose the raw
    UTF-8 bytes per row (data[offs[i]:offs[i+1]]) for the rare callers
    that need original row bytes (the kperm-ref <k whole-string fixup).
    Nulls hash as empty strings, matching the list path's ``""``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts, type=pa.string(), from_pandas=True)
    if arr.null_count:
        arr = pc.fill_null(arr, "")
    n = len(arr)
    if n == 0 or arr.buffers()[1] is None:
        return (
            np.empty(0, dtype=U64),
            np.zeros((0, 2), dtype=np.int64),
            np.empty(0, dtype=np.uint8),
            np.zeros(1, dtype=np.int64),
        )
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data_buf = arr.buffers()[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, dtype=np.uint8)
    )
    if offs[-1] > data.size or np.any(np.diff(offs) < 0):
        # same class of guard as _dense_batch_to_sparse: a sliced or
        # corrupt buffer must raise, never mis-assign bytes to rows
        raise ValueError("series_grams: Arrow offsets inconsistent with data buffer")
    orig_lens = np.diff(offs)
    short = orig_lens < k
    if not short.any():
        # dense StringArray data IS the row concatenation — zero copy
        return (*_gram_hashes(data[offs[0] : offs[-1]], orig_lens, k, hasher),
                data, offs)
    out_lens = np.maximum(orig_lens, k)
    total = int(out_lens.sum())
    out_offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offs[1:])
    pos = np.arange(total, dtype=np.int64) - np.repeat(out_offs[:-1], out_lens)
    valid = pos < np.repeat(orig_lens, out_lens)
    src = np.repeat(offs[:-1], out_lens) + pos
    buf = np.zeros(total, dtype=np.uint8)  # zeros = the <k padding
    buf[valid] = data[src[valid]]
    return (*_gram_hashes(buf, out_lens, k, hasher), data, offs)


def phash_window_hashes(
    phash: np.ndarray, window_bits: int = 16, step: int = 4
) -> np.ndarray:
    """pHash-derived image shingles (graft-specific, NOT in reference).

    Slides a ``window_bits``-wide window over the 64-bit perceptual hash in
    ``step``-bit increments; each shingle is hash(position ‖ window value),
    so images whose pHashes differ in few bits share most shingles — the
    image analogue of the 2-bit-packed DNA shingles (k_shingles.h:106-146).

    phash : (n,) int64 → returns (n, n_windows) uint64.
    """
    p = phash.astype(np.int64, copy=False).view(U64)
    positions = list(range(0, 64 - window_bits + 1, step))
    mask = U64((1 << window_bits) - 1)
    cols = []
    for i, pos in enumerate(positions):
        win = (p >> U64(pos)) & mask
        # tag with window position (high bits) + an image-namespace constant
        # so phash shingles can never collide with caption shingles
        cols.append(splitmix64(win ^ (U64(i + 1) << U64(48)) ^ U64(0x9E1)))
    return np.stack(cols, axis=1)


# ---------------------------------------------------------------------------
# One-permutation hashing (OPH) — the scale-path signature scheme.
#
# Classic k-permutation MinHash costs O(n_grams * n_perm) memory traffic per
# batch; at 100 TB (and on bandwidth-throttled hosts) that traffic IS the
# bottleneck.  One-permutation hashing (Li, Owen, Zhang, NIPS 2012) hashes
# each element ONCE and splits the hash space into n_perm buckets: bucket
# k = top bits, value = low bits; signature[k] = min value landing in bucket
# k.  Empty buckets are filled by rotation densification (Shrivastava & Li,
# ICML 2014): borrow the next non-empty ORIGINAL bucket's value to the right
# (circular), offset by hops*C so borrowed lanes stay distinct across
# distances.  P(sig_a[k] == sig_b[k]) ≈ J exactly as with k permutations,
# at 1/n_perm the compute.  Same banding/LSH machinery applies downstream.
# ---------------------------------------------------------------------------
_OPH_C = U64(0x27D4EB2F165667C5)  # densification hop offset (odd constant)
_OPH_EMPTY = U64(1) << U64(62)    # sentinel > any masked value, int64-positive


def ragged_valid_indices(bounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flat indices selecting each row's own grams from the concatenated
    window array produced by char_shingle_hashes (which also contains
    cross-row windows between segments).

    Returns (idx into flat, lens per row)."""
    lens = (bounds[:, 1] - bounds[:, 0]).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), lens
    cum = np.zeros(bounds.shape[0], dtype=np.int64)
    np.cumsum(lens[:-1], out=cum[1:])
    base = np.repeat(bounds[:, 0] - cum, lens)
    return np.arange(total, dtype=np.int64) + base, lens


def _oph_vmask(n_perm: int) -> np.ndarray:
    kbits = int(n_perm).bit_length() - 1
    return U64((1 << (64 - kbits)) - 1) & (_OPH_EMPTY - U64(1))


def oph_raw(
    gram_hashes: np.ndarray,
    lens: np.ndarray,
    n_perm: int,
    seed: int = 1,
) -> np.ndarray:
    """Pre-densification OPH bucket minima (EMPTY sentinel where no gram
    landed).  Raw matrices of DIFFERENT gram spaces over the same rows merge
    exactly with np.minimum — min-per-bucket of a union is the min of the
    per-set bucket minima — so multi-channel signatures (caption grams ∪
    pHash windows) densify once after merging.

    gram_hashes : (total,) uint64 — row i owns the slice after its
                  predecessors' ``lens`` (ragged, contiguous).
    lens        : (n_rows,) int — grams per row (0 allowed).
    n_perm      : power of two.
    returns     : (n_rows, n_perm) uint64; _OPH_EMPTY marks empty buckets.
    """
    assert n_perm & (n_perm - 1) == 0, "n_perm must be a power of two"
    n_rows = lens.shape[0]
    kbits = int(n_perm).bit_length() - 1
    shift = U64(64 - kbits)
    vmask = _oph_vmask(n_perm)
    total = int(lens.sum())

    sig = np.full(n_rows * n_perm, _OPH_EMPTY, dtype=U64)
    if total == 0:
        return sig.reshape(n_rows, n_perm)
    h = scratch("oph_h", (total,))
    np.bitwise_xor(gram_hashes, U64(splitmix64_scalar_seed(seed)), out=h)
    _sm_finalize(h)  # splitmix64, in place
    d = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    k = scratch("oph_k", (total,))
    np.right_shift(h, shift, out=k)
    combined = scratch("oph_comb", (total,), np.int64)
    np.multiply(d, n_perm, out=combined)
    np.add(combined, k.view(np.int64), out=combined)  # k < n_perm, view safe
    np.bitwise_and(h, vmask, out=h)  # h becomes the bucket value

    # scatter-min: descending value order, last write (the minimum) wins
    order = np.argsort(h)[::-1]
    sig[combined[order]] = h[order]
    return sig.reshape(n_rows, n_perm)


def oph_densify(sig: np.ndarray, n_perm: int, seed: int = 1) -> np.ndarray:
    """Rotation densification: each empty bucket borrows the value of the
    nearest non-empty ORIGINAL bucket to its right (circular), offset by
    hops * C so borrowed lanes stay distinct across distances."""
    vmask = _oph_vmask(n_perm)
    res = sig.copy()
    nonempty_src = sig != _OPH_EMPTY
    if not nonempty_src.any():
        return _fill_empty_rows(res, vmask, seed)
    for hop in range(1, n_perm):
        need = res == _OPH_EMPTY
        if not need.any():
            break
        cand = np.roll(sig, -hop, axis=1)
        ok = need & np.roll(nonempty_src, -hop, axis=1)
        hop_off = U64((hop * int(_OPH_C)) & 0xFFFFFFFFFFFFFFFF)  # wrap in Python int
        fill = (cand + hop_off) & vmask
        res[ok] = fill[ok]
    return _fill_empty_rows(res, vmask, seed)


def oph_signatures(
    gram_hashes: np.ndarray,
    lens: np.ndarray,
    n_perm: int,
    seed: int = 1,
) -> np.ndarray:
    """Densified OPH signature matrix: see oph_raw / oph_densify."""
    return oph_densify(oph_raw(gram_hashes, lens, n_perm, seed), n_perm, seed)


def _fill_empty_rows(res: np.ndarray, vmask: np.ndarray, seed: int) -> np.ndarray:
    """Zero-gram rows stay all-EMPTY after densification; fill with a
    lane-only (content- and partition-independent) deterministic value —
    two empty documents are identical, so they SHOULD fully match."""
    still = res == _OPH_EMPTY
    if still.any():
        _, cols = np.nonzero(still)
        res[still] = splitmix64(cols.astype(U64) ^ U64(seed)) & vmask
    return res


def splitmix64_scalar_seed(seed: int) -> int:
    """Scalar splitmix64 of a Python int (seed mixing)."""
    z = (seed + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _sm_finalize(z: np.ndarray) -> None:
    """In-place splitmix64 finalizer (no temporaries beyond one scratch)."""
    t = scratch("smf", z.shape)
    np.right_shift(z, U64(30), out=t)
    np.bitwise_xor(z, t, out=z)
    np.multiply(z, _SM_M1, out=z)
    np.right_shift(z, U64(27), out=t)
    np.bitwise_xor(z, t, out=z)
    np.multiply(z, _SM_M2, out=z)
    np.right_shift(z, U64(31), out=t)
    np.bitwise_xor(z, t, out=z)


def exact_jaccard_hashed(h_a: np.ndarray, h_b: np.ndarray) -> float:
    """Exact Jaccard of two hashed-shingle sets (minhash.h:210-215)."""
    a = np.unique(h_a)
    b = np.unique(h_b)
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return float(inter) / union if union else 1.0
