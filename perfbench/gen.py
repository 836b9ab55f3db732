"""Seeded input generators.  Each returns the rows the program reads
(image_id, caption, phash, ...) plus the generator group of every row,
which only the oracle sees.

  mixed_dups            lshdedup.synth corpus, planted blocks of <= 8 rows
  long_captions         200-500 random-letter words, planted near-dup blocks
  dup_chains_resumable  sliding-window caption chains: neighbours share
                        28 of 32 words (char-5-gram Jaccard ~0.77), rows two
                        hops apart share 24 (~0.59), so only adjacent pairs
                        pass the 0.7 rule and each chain is one component
                        whose diameter is its length - 1
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lshdedup.codec import phash64


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 8) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    letters = rng.integers(97, 123, size=int(lens.sum()), dtype=np.uint8).tobytes().decode()
    ends = np.cumsum(lens)
    return [letters[e - n_ : e] for e, n_ in zip(ends, lens)]


def _random_phash(rng: np.random.Generator, img_size: int = 16) -> int:
    return phash64(rng.integers(0, 256, size=(img_size, img_size), dtype=np.uint8))


def mixed_dups(seed: int, n_rows: int) -> tuple[pd.DataFrame, list[int]]:
    from lshdedup.synth import SynthConfig, corpus_local

    scfg = SynthConfig(n_rows=n_rows, seed=seed)
    df = corpus_local(scfg)
    return df, [i // scfg.block for i in range(n_rows)]


def long_captions(
    seed: int, n_rows: int, block: int = 8, levels=(1.0, 0.9, 0.8, 0.7)
) -> tuple[pd.DataFrame, list[int]]:
    """Blocks of ``block`` rows; the first ``size`` rows of a block are the
    base caption with a share of its words replaced (target word-set
    Jaccard ``level``), the rest are independent.  Pixels are random per
    row, so only the caption channel can link rows."""
    rng = _rng(seed, 0x10C)
    rows, groups = [], []
    for base in range(0, n_rows, block):
        size = int(min(block, rng.geometric(0.5)))
        words = _words(rng, int(rng.integers(200, 501)))
        for j in range(min(block, n_rows - base)):
            if j == 0 or j < size:
                out = list(words)
                if j:
                    lv = levels[int(rng.integers(len(levels)))]
                    c = int(round(len(out) * (1 - lv) / (1 + lv)))
                    fresh = _words(rng, c)
                    for p, w in zip(rng.choice(len(out), size=c, replace=False), fresh):
                        out[p] = w
                group = base
            else:
                out = _words(rng, int(rng.integers(200, 501)))
                group = base + j
            rows.append((f"lc{base + j:08d}", " ".join(out), _random_phash(rng)))
            groups.append(group)
    return pd.DataFrame(rows, columns=["image_id", "caption", "phash"]), groups


def dup_chains(
    seed: int, n_chains: int, length: int, window: int = 32, step: int = 4
) -> tuple[pd.DataFrame, list[int]]:
    """``n_chains`` chains of ``length`` rows; row j's caption is words
    [j*step, j*step + window) of the chain's word sequence.  Five-letter
    words keep every shift exactly step * 6 characters long."""
    rng = _rng(seed, 0xC4A1)
    rows, groups = [], []
    for c in range(n_chains):
        words = _words(rng, window + step * (length - 1), 5, 5)
        for j in range(length):
            caption = " ".join(words[j * step : j * step + window])
            rows.append((f"ch{c:04d}-{j:03d}", caption, _random_phash(rng)))
            groups.append(c)
    return pd.DataFrame(rows, columns=["image_id", "caption", "phash"]), groups
