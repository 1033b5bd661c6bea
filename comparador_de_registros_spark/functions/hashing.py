"""Vectorized (numpy) hashing primitives for the dedup signature stages.

All stages share these so the pipeline's shingle/signature config is a
single contract (BASELINE.json north_rule: recall is defined "at the
same shingle/signature config"). Everything is deterministic given the
config seeds and wraps mod 2^64 (numpy uint64 arithmetic), so results
are identical across executors, runs, and platforms.

Algorithms are standard published constructions:
* splitmix64 finalizer (Steele et al., JDK SplittableRandom) as the
  universal 64-bit mixer;
* polynomial rolling k-gram hashes computed via invertible-base prefix
  sums (base odd => invertible mod 2^64), fully vectorized;
* one-permutation MinHash with circular densification (Li/Owen/Zhang
  2012, Shrivastava/Li 2014);
* winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_MIX1 = _U64(0xBF58476D1CE4E5B9)
_MIX2 = _U64(0x94D049BB133111EB)

# odd => invertible modulo 2^64
_POLY_BASE = _U64(0x100000001B3)  # FNV-ish odd multiplier
_POLY_BASE_INV = _U64(pow(0x100000001B3, -1, 1 << 64))

_OLD_ERR = np.seterr(over="ignore")  # uint64 wraparound is intentional
np.seterr(**_OLD_ERR)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        z = (x + _GOLDEN).astype(_U64)
        z = (z ^ (z >> _U64(30))) * _MIX1
        z = (z ^ (z >> _U64(27))) * _MIX2
        return z ^ (z >> _U64(31))


# power tables grow-on-demand and are reused across calls: the
# sequential multiply.accumulate scan dominated the rolling-hash cost
# when recomputed per call (the tables depend only on length).
_POW_TABLES: dict[str, np.ndarray] = {}


def _power_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (pows, inv_pows) with pows[i] = B^i (len >= n+1) and
    inv_pows[j] = Binv^(j+1) (len >= n)."""
    pows = _POW_TABLES.get("pows")
    if pows is None or len(pows) < n + 1:
        m = max(n + 1, 1 << 20)
        with np.errstate(over="ignore"):
            pows = np.empty(m, dtype=_U64)
            pows[0] = _U64(1)
            np.multiply.accumulate(np.full(m - 1, _POLY_BASE, dtype=_U64), out=pows[1:])
            inv = np.multiply.accumulate(np.full(m, _POLY_BASE_INV, dtype=_U64))
        _POW_TABLES["pows"] = pows
        _POW_TABLES["inv"] = inv
    return _POW_TABLES["pows"], _POW_TABLES["inv"]


def splitmix64_inplace(z: np.ndarray, tmp: np.ndarray | None = None) -> np.ndarray:
    """splitmix64 finalizer applied in place (input = x + GOLDEN must
    already be folded by the caller — see :func:`splitmix64` for the
    allocating reference form). ``tmp`` is a same-shape scratch buffer."""
    if tmp is None:
        tmp = np.empty_like(z)
    np.right_shift(z, _U64(30), out=tmp)
    np.bitwise_xor(z, tmp, out=z)
    np.multiply(z, _MIX1, out=z)
    np.right_shift(z, _U64(27), out=tmp)
    np.bitwise_xor(z, tmp, out=z)
    np.multiply(z, _MIX2, out=z)
    np.right_shift(z, _U64(31), out=tmp)
    np.bitwise_xor(z, tmp, out=z)
    return z


def byte_prefix_sums(data: bytes) -> np.ndarray:
    """Polynomial prefix sums of a byte string:
    ``prefix[i] = sum_{j<i} a[j] * Binv^(j+1)`` (uint64, length n+1).
    One prefix array serves every downstream span/window hash — the
    batched signature kernel computes it once per buffer."""
    arr = np.frombuffer(data, dtype=np.uint8).astype(_U64)
    n = len(arr)
    _, inv_pows = _power_tables(n)
    prefix = np.zeros(n + 1, dtype=_U64)
    with np.errstate(over="ignore"):
        np.cumsum(arr * inv_pows[:n], out=prefix[1:])
    return prefix


def _finalize(h: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64(h ^ seed) in place."""
    np.bitwise_xor(h, _U64(seed & 0xFFFFFFFFFFFFFFFF), out=h)
    np.add(h, _GOLDEN, out=h)
    return splitmix64_inplace(h)


def windows_from_prefix(prefix: np.ndarray, k: int, seed: int = 0) -> np.ndarray:
    """All k-gram hashes given precomputed :func:`byte_prefix_sums`.
    Window hash at i = B^(i+k) * (S[i+k] - S[i]) = B^(k-1) *
    sum_t a[i+t] Binv^t — position-independent."""
    n = len(prefix) - 1
    if n < k:
        return np.empty(0, dtype=_U64)
    with np.errstate(over="ignore"):
        pows, _ = _power_tables(n)
        windows = (prefix[k:] - prefix[:-k]) * pows[k : n + 1]
        return _finalize(windows, seed)


def rolling_kgram_hashes(data: bytes, k: int, seed: int = 0) -> np.ndarray:
    """All k-gram polynomial hashes of ``data`` (len n-k+1, uint64),
    fully vectorized via invertible-base prefix sums."""
    if len(data) < k:
        return np.empty(0, dtype=_U64)
    return windows_from_prefix(byte_prefix_sums(data), k, seed)


def char_shingles(text: str, k: int, seed: int = 0) -> np.ndarray:
    """Distinct hashed k-grams (utf-8 bytes) of a document."""
    return np.unique(rolling_kgram_hashes(text.encode("utf-8"), k, seed))


def oph_signature(
    shingles: np.ndarray, num_perm: int, empty_fill: int = 0
) -> np.ndarray:
    """One-permutation MinHash (Li/Owen/Zhang, NIPS 2012) with circular
    left-neighbor densification (Shrivastava/Li, ICML 2014): bucket each
    64-bit shingle hash by its top ``log2(num_perm)`` bits, take the
    minimum hash per bucket (one pass — no per-permutation re-hashing),
    splitmix-finalize it, and fill empty buckets from the nearest
    occupied bucket to the left (circular). Returns int32 (top 32 bits
    of each 64-bit minimum) — 4 bytes/perm keeps the signature table at
    ~0.5 KB/doc for 128 perms; collision probability per bucket is J
    like classic MinHash, at ~1/num_perm of the hashing cost."""
    p = num_perm
    if p & (p - 1):
        raise ValueError("num_perm must be a power of two for OPH")
    if len(shingles) == 0:
        return np.full(p, empty_fill, dtype=np.int32)
    shift = _U64(64 - (p.bit_length() - 1))
    s = np.sort(shingles.astype(_U64))
    bucket = (s >> shift).astype(np.int64)
    first = np.ones(len(s), dtype=bool)
    first[1:] = bucket[1:] != bucket[:-1]
    vals, occ_b = s[first], bucket[first]
    mixed = splitmix64(vals)
    m = np.full(p, np.iinfo(_U64).max, dtype=_U64)
    m[occ_b] = mixed
    occ = np.zeros(p, dtype=bool)
    occ[occ_b] = True
    idx = np.where(np.concatenate([occ, occ]), np.arange(2 * p), 0)
    np.maximum.accumulate(idx, out=idx)
    filled = np.concatenate([m, m])[idx][p:]
    return (filled >> _U64(32)).astype(np.int64).astype(np.int32)


def make_seeds(num: int, seed: int) -> np.ndarray:
    """``num`` k-permutation MinHash seeds. The engine signs with OPH and
    uses none; kept for callers that still build them."""
    return splitmix64(
        np.arange(1, num + 1, dtype=_U64) * _GOLDEN ^ _U64(seed & 0xFFFFFFFFFFFFFFFF)
    )


def winnow(gram_hashes: np.ndarray, window: int) -> np.ndarray:
    """Winnowing: distinct per-window minima of consecutive ``window``
    gram hashes — guarantees any shared substring spanning
    ``window + gram - 1`` bytes shares at least one selected anchor."""
    n = len(gram_hashes)
    if n == 0:
        return gram_hashes
    if n <= window:
        return np.unique(gram_hashes.min(keepdims=True))
    sw = np.lib.stride_tricks.sliding_window_view(gram_hashes, window)
    return np.unique(sw.min(axis=1))
