"""Pair oracles and the recall/precision arithmetic, in plain Python.

The oracle applies the pipeline's own decision rule (verify.verify_pairs,
verify_mode="exact"): caption character-5-gram set Jaccard >= 0.7, or pHash
Hamming distance <= 3.  It is evaluated only on pairs inside a generator
group (a planted block, or a chain), so it costs O(rows * group size)
instead of the O(rows^2) of brute force.
"""

from __future__ import annotations

from itertools import combinations

K = 5
THRESHOLD = 0.7
MAX_HAMMING = 3
_MASK64 = (1 << 64) - 1


def shingles(text: str, k: int = K) -> frozenset[str]:
    """Distinct character k-grams; a text shorter than k is one gram
    (shingle.char_shingles_expr)."""
    if len(text) < k:
        return frozenset([text])
    return frozenset(text[i : i + k] for i in range(len(text) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return 1.0 if union == 0 else len(a & b) / union


def hamming(x: int, y: int) -> int:
    return bin((x ^ y) & _MASK64).count("1")


def rule_pairs(
    ids: list[str],
    captions: list[str],
    groups: list[int],
    phashes: list[int] | None = None,
) -> set[tuple[str, str]]:
    """Intra-group pairs (id_a < id_b) the decision rule accepts.
    ``phashes=None`` applies the caption-only rule."""
    members: dict[int, list[int]] = {}
    for i, g in enumerate(groups):
        members.setdefault(g, []).append(i)
    sh = {}
    out = set()
    for rows in members.values():
        for i, j in combinations(rows, 2):
            if phashes is not None and hamming(phashes[i], phashes[j]) <= MAX_HAMMING:
                out.add(tuple(sorted((ids[i], ids[j]))))
                continue
            for r in (i, j):
                if r not in sh:
                    sh[r] = shingles(captions[r])
            if jaccard(sh[i], sh[j]) >= THRESHOLD:
                out.add(tuple(sorted((ids[i], ids[j]))))
    return out


def components(pairs) -> dict[str, str]:
    """id -> component representative (union-find over ``pairs``)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def pair_recall(oracle: set, cluster_of: dict[str, str]) -> float:
    """Share of oracle pairs whose two rows the run put in one cluster."""
    if not oracle:
        return 1.0
    hit = sum(1 for a, b in oracle if cluster_of.get(a, a) == cluster_of.get(b, b))
    return hit / len(oracle)


def emitted_recall(oracle: set, reported) -> float:
    """Share of oracle pairs the run emitted itself (a stream reports
    pairs, not clusters, so transitivity earns nothing)."""
    if not oracle:
        return 1.0
    reported = {tuple(sorted(p)) for p in reported}
    return sum(1 for p in oracle if p in reported) / len(oracle)


def pair_precision(reported, oracle: set) -> float:
    """Share of reported pairs whose rows the oracle links (same oracle
    component, so a pair implied by transitivity is not a false positive)."""
    reported = {tuple(sorted(p)) for p in reported}
    if not reported:
        return 1.0
    comp = components(oracle)
    hit = sum(1 for a, b in reported if a in comp and comp.get(a) == comp.get(b))
    return hit / len(reported)
