"""Deterministic hashing primitives: feature-hash embeddings, MinHash,
SimHash, rolling fingerprints.

All hashes are seeded and portable (no process-randomized ``hash()``), so
``local[1]`` == ``local[32]`` results and re-runs are bit-stable — the same
determinism discipline the reference applies to its letter set and splits
(``/root/reference/wsd/letters.py:54-61``, ``training/wn_data.py:28-29``).

NumPy-vectorized where it matters; these run inside Arrow-batched pandas
UDFs on the executors, never per-row Python at the Spark layer.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib

import numpy as np

EMBED_DIM = 64

_MASK64 = (1 << 64) - 1
# Mersenne prime 2^61-1 for universal hashing a*x+b mod p.
_MERSENNE_P = (1 << 61) - 1


def md5_u64(s: str) -> int:
    """Stable 64-bit hash of a string."""
    return struct.unpack("<Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


_SHINGLE_HASH_CACHE: dict[str, int] = {}
_CACHE_CAP = 2_000_000  # bound executor memory; hits dominate long before this


def _shingle_hash(s: str) -> int:
    """Deterministic 64-bit shingle hash, C-speed (two salted crc32 words).

    MinHash only needs a uniform-ish deterministic base hash — the 128-way
    universal-hash family on top provides the permutations — so crc32 (zlib,
    ~20x faster than hashlib.md5 per call) is the right primitive for the
    2M-shingles-per-partition hot loop. Executor-lifetime memo: natural
    language reuses its shingle vocabulary heavily across documents.
    """
    h = _SHINGLE_HASH_CACHE.get(s)
    if h is None:
        b = s.encode("utf-8")
        h = (zlib.crc32(b"s1:" + b) << 32) | zlib.crc32(b"s2:" + b)
        if len(_SHINGLE_HASH_CACHE) < _CACHE_CAP:
            _SHINGLE_HASH_CACHE[s] = h
    return h


# token -> emb hash memo; executor-lifetime, tiny (vocab-sized)
_EMB_HASH_CACHE: dict[str, int] = {}


def emb_hash(t: str) -> int:
    """Canonical 60-bit embedding hash: first 15 hex chars of md5.

    Defined via the hex digest (not raw bytes) so the *same value* is
    computable JVM-side as ``conv(substring(md5(concat('emb:', t)), 1, 15),
    16, 10)`` — the python and SQL embedding paths must agree bit-for-bit.
    """
    h = _EMB_HASH_CACHE.get(t)
    if h is None:
        h = int(hashlib.md5(("emb:" + t).encode("utf-8")).hexdigest()[:15], 16)
        _EMB_HASH_CACHE[t] = h
    return h


_emb_hash = emb_hash


def signed_count_matrix(bags: list, dim: int = EMBED_DIM) -> np.ndarray:
    """Feature-hash a whole Arrow batch of token bags -> (n, dim) float64
    matrix of signed token counts (exact small integers): token ``t`` adds
    ``±1`` at column ``emb_hash(t) % dim``, the sign from hash bit 32.
    This is the embedding BEFORE normalization; ``blocking`` keys on it
    (its primitive integer direction) to find the pairs whose cosine can
    reach 1.

    Vectorized (the ``simhash64_batch`` pattern): ``Series.explode`` +
    ``pd.factorize`` turn the batch into (row, unique-token-code) arrays at
    C speed, one memoized md5 per *unique* token, then ONE ``np.bincount``
    scatter over flattened (row, slot) indices builds the whole matrix — no
    per-occurrence python loop (the r1-r5 form looped a dict get + 3 list
    appends per token occurrence; measured 2x on a 200k-row candidate
    batch, 1.37s -> 0.69s incl. cosine). Bit-identity with the loop form is
    structural: explode preserves row-major bag order, and bincount
    accumulates float64 weights in occurrence order per bin — the same
    per-row addition order as the sequential scatter. Empty/None bags
    explode to NaN and drop, leaving their rows all-zero.
    """
    import pandas as pd

    ser = bags if isinstance(bags, pd.Series) else pd.Series(bags, dtype="object")
    n = len(ser)
    ex = ser.reset_index(drop=True).explode().dropna()
    if not len(ex):
        return np.zeros((n, dim), dtype=np.float64)
    R = ex.index.to_numpy(dtype=np.int64)
    codes, uniques = pd.factorize(ex.to_numpy())
    Hu = np.fromiter(
        (emb_hash(t) for t in uniques), dtype=np.uint64, count=len(uniques)
    )
    cols = (Hu % np.uint64(dim)).astype(np.int64)
    signs = np.where(
        ((Hu >> np.uint64(32)) & np.uint64(1)).astype(bool), 1.0, -1.0
    )
    return np.bincount(
        R * dim + cols[codes], weights=signs[codes], minlength=n * dim
    ).reshape(n, dim)


def embed_token_bags(bags: list, dim: int = EMBED_DIM) -> np.ndarray:
    """Embed a whole Arrow batch of token bags at once -> (n, dim) float32
    matrix: :func:`signed_count_matrix`, L2-normalized per row in float64,
    then cast (all-zero rows stay zero — the norm guard). The vectorized
    hot path of the pair and candidate scorers.
    """
    M = signed_count_matrix(bags, dim)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    np.divide(M, norms, out=M, where=norms > 0)
    return M.astype(np.float32)


def embed_token_bags_dedup(bags: list, dim: int = EMBED_DIM) -> np.ndarray:
    """Row-for-row bit-identical to :func:`embed_token_bags`, embedding each
    DISTINCT bag once and gathering.

    Why it exists (guide §4.2 — make the per-batch python work proportional
    to the *distinct* inputs): the scoring UDFs see the same bag many times
    per Arrow batch — a mention's context repeats once per candidate sense,
    a sense's gloss profile repeats once per mention that looks it up, and a
    star-blocked pair batch repeats the hub's context in every row. Each
    row's embedding depends only on its own bag (the add.at scatter touches
    only that row; the norm is per-row), so embedding the unique bags and
    gathering with fancy indexing reproduces the full matrix exactly.
    """
    key_to_idx: dict = {}
    uniq: list = []
    inv = np.empty(len(bags), dtype=np.int64)
    for i, bag in enumerate(bags):
        k = None if bag is None else tuple(bag)
        j = key_to_idx.get(k)
        if j is None:
            j = len(uniq)
            key_to_idx[k] = j
            uniq.append(bag)
        inv[i] = j
    if len(uniq) == len(bags):
        return embed_token_bags(bags, dim)
    return embed_token_bags(uniq, dim)[inv]


def embed_tokens(tokens: list[str], dim: int = EMBED_DIM) -> np.ndarray:
    """Feature-hash a token bag into an L2-normalized dense vector.

    Each token maps to a fixed (index, sign) pair by stable hash; the vector
    is the signed count histogram, normalized. Plays the role of the
    reference's context representation fed to its scorer
    (``/root/reference/wsd/masked_language_model.py:36`` — a fixed-width
    float vector per mention).
    """
    v = np.zeros(dim, dtype=np.float64)
    for t in tokens:
        h = emb_hash(t)
        idx = h % dim
        sign = 1.0 if (h >> 32) & 1 else -1.0
        v[idx] += sign
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


_NON_WS_RE = re.compile(r"[^ \t\n\r\f\x0B]+")


def char_shingles(text: str, k: int = 5) -> list[str]:
    """Character k-shingles of normalized text (for MinHash/near-dup).

    Whitespace normalization uses the explicit ASCII class (functions.text
    invariant), not ``str.split()``: Python's split is Unicode-aware
    (U+00A0/U+2028/...) while the JVM/DuckDB mirrors are not — the engine
    stays self-consistent across all three tokenization sites.
    """
    s = " ".join(_NON_WS_RE.findall(text.lower()))
    if len(s) < k:
        return [s] if s else []
    return [s[i : i + k] for i in range(len(s) - k + 1)]


def token_shingles(tokens: list[str], n: int = 3) -> list[str]:
    """Token n-gram shingles."""
    if len(tokens) < n:
        return [" ".join(tokens)] if tokens else []
    return [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]


from functools import lru_cache


@lru_cache(maxsize=8)
def _minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) coefficient arrays for universal hashing.

    lru_cache matters: re-seeding a RandomState per *document* was a
    measurable slice of the signature hot loop.
    """
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE_P, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE_P, size=num_perm, dtype=np.uint64)
    return a, b


# shingle -> its full 128-wide universal-hash row, keyed per (num_perm, seed).
# Natural text reuses a small shingle vocabulary, so after warm-up a
# document's signature is a gather + min over cached rows — no per-document
# uint64 multiply/mod (the round-1 hot loop; measured ~8x).
_ROW_CACHES: dict[tuple[int, int], dict[str, np.ndarray]] = {}
_ROW_CACHE_CAP = 200_000  # ~200 MB ceiling at 128 perms


def minhash_signature(
    shingles: list[str], num_perm: int = 128, seed: int = 42
) -> np.ndarray:
    """MinHash signature (uint64[num_perm]) of a shingle set.

    Values are bit-identical to the direct (a*h+b) mod p construction —
    the row cache only changes where the row is computed. Empty input
    yields the all-max sentinel signature.
    """
    if not shingles:
        return np.full(num_perm, _MASK64, dtype=np.uint64)
    cache = _ROW_CACHES.setdefault((num_perm, seed), {})
    hit_rows: list[np.ndarray] = []
    miss: list[str] = []
    for s in set(shingles):
        r = cache.get(s)
        if r is None:
            miss.append(s)
        else:
            hit_rows.append(r)
    parts: list[np.ndarray] = []
    if hit_rows:
        parts.append(np.minimum.reduce(hit_rows))
    if miss:
        a, b = _minhash_params(num_perm, seed)
        hv = np.fromiter(
            (_shingle_hash(s) for s in miss), dtype=np.uint64, count=len(miss)
        )
        # (n, p): (a * h + b) mod p in wrapping uint64 arithmetic — fine for
        # a hash family as long as it is applied identically everywhere.
        prod = hv[:, None] * a[None, :] + b[None, :]
        prod %= np.uint64(_MERSENNE_P)
        parts.append(prod.min(axis=0))
        room = _ROW_CACHE_CAP - len(cache)
        for i in range(min(room, len(miss))):
            cache[miss[i]] = prod[i]
    return parts[0] if len(parts) == 1 else np.minimum(parts[0], parts[1])


def lsh_bands(signature: np.ndarray, bands: int = 16) -> list[tuple[int, int]]:
    """Split a signature into ``bands`` bands -> [(band_id, band_hash)].

    Two documents collide in a band iff their signature rows in that band are
    identical — the classic banding construction (Leskovec et al., MMDS ch.3).
    """
    rows = len(signature) // bands
    out = []
    for bi in range(bands):
        chunk = signature[bi * rows : (bi + 1) * rows]
        band_hash = md5_u64("band:" + chunk.tobytes().hex())
        out.append((bi, band_hash))
    return out


_SIM_VEC_CACHE: dict[str, np.ndarray] = {}
_SIM_SHIFTS = np.arange(64, dtype=np.uint64)


def _sim_vec(t: str) -> np.ndarray:
    """±1 bit vector of a token's sim-hash — memoized per executor: the
    md5 + bit expansion runs once per *unique* token, not once per
    occurrence (the round-1 hot loop)."""
    v = _SIM_VEC_CACHE.get(t)
    if v is None:
        h = md5_u64("sim:" + t)
        bits = (np.uint64(h) >> _SIM_SHIFTS) & np.uint64(1)
        v = np.where(bits.astype(bool), np.int32(1), np.int32(-1))
        if len(_SIM_VEC_CACHE) < _CACHE_CAP:
            _SIM_VEC_CACHE[t] = v
    return v


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over a token bag (Charikar 2002)."""
    if not tokens:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        acc += _sim_vec(t)
    bits = (acc > 0).astype(np.uint64)
    return int((bits << _SIM_SHIFTS).sum())


_SIM_HASH_CACHE: dict[str, int] = {}


def _sim_hash(t: str) -> int:
    """Raw 64-bit sim-hash of a token, memoized per executor (the bit
    source behind :func:`_sim_vec`; the batch kernel consumes it directly
    as packed bits instead of the expanded ±1 vector)."""
    h = _SIM_HASH_CACHE.get(t)
    if h is None:
        h = md5_u64("sim:" + t)
        if len(_SIM_HASH_CACHE) < _CACHE_CAP:
            _SIM_HASH_CACHE[t] = h
    return h


def simhash64_batch(bags, max_occ: int = 1 << 22) -> np.ndarray:
    """SimHash a whole Arrow batch of token bags at once -> uint64[n].

    Bit-identical to per-row :func:`simhash64` (identity-tested): same
    per-token bit vectors, same strict-majority rule, empty/None bag -> 0.
    ``bags`` is a list (or pandas Series) of token lists.

    Vectorized shape — NO per-occurrence Python loop (the round-1/2 hot
    path was one memoized dict hit + one 64-wide NumPy add per token
    occurrence): ``Series.explode`` + ``pd.factorize`` turn the batch into
    (row_id, unique_token_code) arrays at C speed; one md5 per *unique*
    token (executor-lifetime memo); then BIT-PLANE accumulation — the
    per-row ±1 sum for bit b is ``2*Σbits_b - count``, computed with one
    ``np.bincount`` per bit over the packed uint64 hashes. This never
    materializes the (occurrences, 64) expansion (measured ~2.2x the
    reduceat-gather form, ~2.4x the per-row loop on a 1M-occurrence
    batch). Slabs of ``max_occ`` occurrences bound transient memory; a
    document split across slabs accumulates correctly (+=).
    """
    import pandas as pd

    ser = bags if isinstance(bags, pd.Series) else pd.Series(bags, dtype="object")
    n = len(ser)
    acc = np.zeros((n, 64), dtype=np.int64)
    ex = ser.reset_index(drop=True).explode().dropna()
    if len(ex):
        R = ex.index.to_numpy(dtype=np.int64)
        codes, uniques = pd.factorize(ex.to_numpy())
        Hu = np.fromiter(
            (_sim_hash(t) for t in uniques), dtype=np.uint64, count=len(uniques)
        )
        for s in range(0, len(R), max_occ):
            r = R[s : s + max_occ]
            h = Hu[codes[s : s + max_occ]]
            starts = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
            cnt = np.diff(np.r_[starts, len(r)]).astype(np.int64)
            seg = np.repeat(np.arange(len(starts)), cnt)
            part = np.empty((len(starts), 64), dtype=np.int64)
            for b in range(64):
                bits = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.float64)
                # bincount weights are float64; sums of 0/1 are exact
                part[:, b] = (
                    2 * np.bincount(seg, weights=bits, minlength=len(starts))
                    .astype(np.int64)
                    - cnt
                )
            acc[r[starts]] += part
    bits = (acc > 0).astype(np.uint64)
    return (bits << _SIM_SHIFTS[None, :]).sum(axis=1)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & _MASK64).count("1")


def rolling_fingerprint(text: str, window: int = 16, keep_mod: int = 8) -> list[int]:
    """Winnowing-style document fingerprint: hash every ``window``-gram,
    keep those ≡ 0 mod ``keep_mod`` (0-mod sampling). Deterministic subset
    of positions robust to local edits."""
    s = " ".join(text.lower().split())
    if len(s) < window:
        return [md5_u64("fp:" + s)] if s else []
    out = []
    for i in range(len(s) - window + 1):
        h = md5_u64("fp:" + s[i : i + window])
        if h % keep_mod == 0:
            out.append(h)
    return out
