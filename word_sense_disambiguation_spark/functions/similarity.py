"""Pairwise similarity measures: Jaro-Winkler, cosine, Jaccard.

Pure-python/NumPy reference implementations; the Spark operators call the
batch variants inside Arrow pandas UDFs. Jaro-Winkler matches DuckDB's
``jaro_winkler_similarity`` (boost threshold 0.7, prefix scale 0.1) so the
oracle comparison is exact.
"""

from __future__ import annotations

import numpy as np


def jaro(s1: str, s2: str) -> float:
    len1, len2 = len(s1), len(s2)
    # empty-vs-anything (including empty-vs-empty) is 0.0 — DuckDB's
    # convention, which the oracle comparison makes normative here.
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    match_dist = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(len2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_scale: float = 0.1, boost: float = 0.7) -> float:
    j = jaro(s1, s2)
    if j <= boost:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * prefix_scale * (1.0 - j)


def jaro_winkler_batch(s1, s2) -> np.ndarray:
    """Jaro-Winkler over two aligned sequences, with the two structural
    short-circuits that dominate blocked ER pairs:

    * equality fast path — surface-key blocking makes equal pairs the
      overwhelming majority, and they never reach the O(|s1||s2|) loop;
    * unique-pair memoization — JW is symmetric and blocked pairs repeat
      very few distinct (surface_a, surface_b) combinations, so the tail
      computes each unordered pair once per Arrow batch (measured on a
      100k-pair all-unequal batch over 200 distinct surfaces: 10x over
      the per-row loop, 2.08s -> 0.21s; a 90%-equal batch — the blocked
      ER reality — runs in 0.08s because the fast path short-circuits).

    Accepts any sequences (pandas Series included); ``None`` maps to ``""``.
    """
    out = np.empty(len(s1), dtype=np.float64)
    memo: dict[tuple[str, str], float] = {}
    for i, (a, b) in enumerate(zip(s1, s2)):
        a = a or ""
        b = b or ""
        if a == b:
            # empty-vs-empty is 0.0 (DuckDB convention, see jaro())
            out[i] = 1.0 if a else 0.0
            continue
        key = (a, b) if a <= b else (b, a)
        v = memo.get(key)
        if v is None:
            v = jaro_winkler(a, b)
            memo[key] = v
        out[i] = v
    return out


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))


def cosine_batch(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, d) matrices — the vectorized hot path."""
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    denom = na * nb
    denom[denom == 0] = 1.0
    return (A * B).sum(axis=1) / denom


def jaccard_sets(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0
