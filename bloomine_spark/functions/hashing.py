"""Vectorized 64-bit hashing for k-gram windows and sketch kernels.

The reference hashes each k-mer string with the implementation-defined
``std::hash<std::string>(element + std::to_string(i))``
(/root/reference/src/BloomFilter.hpp:91-93,108-110), which is not portable.
We instead use a seedable polynomial rolling hash over int tokens finished
with a splitmix64-style mixer, and Kirsch–Mitzenmacher double hashing
``h1 + i*h2 mod m`` for multi-probe sketches (the reference's own
``dependencies`` file names ``mmh3`` for the same purpose). Filter
*decisions* are matched against the reference semantics, not bit arrays —
see SURVEY.md §7 "hard parts".

All arithmetic is numpy uint64 (wrapping mod 2^64), fully vectorized.
"""

from __future__ import annotations

import numpy as np

# FNV-1a 64-bit prime as the polynomial base; any odd constant works.
_POLY_P = np.uint64(0x100000001B3)

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray, inplace: bool = False) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele et al., public domain).

    With ``inplace=True`` the input buffer is consumed — callers in the hot
    path pass throwaway buffers to cut transient-allocation churn (large
    temporaries serialize multi-worker executors on kernel page zeroing).
    """
    x = np.asarray(x, dtype=np.uint64)
    if not inplace:
        x = x + _SM_GAMMA
    else:
        x += _SM_GAMMA
    x ^= x >> np.uint64(30)
    x *= _SM_M1
    x ^= x >> np.uint64(27)
    x *= _SM_M2
    x ^= x >> np.uint64(31)
    return x


def hash_u64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash an integer array elementwise to uint64."""
    v = values.astype(np.uint64, copy=False)
    mix = (seed * int(_SM_GAMMA)) % (1 << 64)
    return splitmix64(v + np.uint64(mix))


def rolling_kgram_hash(
    flat: np.ndarray, n_windows: int, k: int, reverse: bool = False
) -> np.ndarray:
    """Polynomial hash of every length-k window of ``flat`` (uint64 in/out).

    ``flat`` is the concatenation of all rows' tokens; windows crossing row
    boundaries must be masked out by the caller. With ``reverse=True`` the
    tokens of each window are consumed right-to-left, which yields the hash
    each window would have in the *reversed* sequence — the vectorized analog
    of the reference's reverse-complement retry re-hashing
    (/root/reference/src/BlooMineUtils.cpp:348-364).
    """
    if n_windows <= 0:
        return np.empty(0, dtype=np.uint64)
    flat = flat.astype(np.uint64, copy=False)
    js = range(k - 1, -1, -1) if reverse else range(k)
    # slices of flat are views, so the recurrence allocates only its hash
    return hash_kgram_columns([flat[j : j + n_windows] for j in js])


def hash_kgram_columns(columns) -> np.ndarray:
    """Hash of many k-grams given as k aligned uint64 token columns
    (column j holds token j of every k-gram) — the recurrence
    ``rolling_kgram_hash`` applies to the windows of a flat buffer."""
    h = np.zeros(len(columns[0]), dtype=np.uint64)
    for col in columns:
        h *= _POLY_P  # in place: no temporaries beyond h
        h += col
    return splitmix64(h, inplace=True)


def hash_tokens_1d(tokens: np.ndarray) -> np.uint64:
    """Hash one full token array (used for target patterns / exact dedup)."""
    h = np.uint64(0)
    flat = tokens.astype(np.uint64, copy=False)
    # same recurrence as rolling_kgram_hash with k == len(tokens)
    for t in flat:
        h = h * _POLY_P + t
    return splitmix64(np.array([h], dtype=np.uint64))[0]


def bloom_probe_index(
    h: np.ndarray, i: int, m: np.uint64
) -> np.ndarray:
    """Probe index for hash round ``i``: one splitmix64 per probe, each
    round independently mixed. The shared single source of truth for Bloom
    build AND query paths — the two must agree bit-for-bit."""
    # scalar product in python ints (numpy warns on scalar uint64 overflow;
    # the mod-2^64 wraparound is exactly what we want)
    off = np.uint64(((i + 1) * int(_SM_GAMMA)) & 0xFFFFFFFFFFFFFFFF)
    return splitmix64(h + off) % m


def double_hash_indices(
    h: np.ndarray, n_hashes: int, m: int
) -> np.ndarray:
    """Per-round independent Bloom probe indices, shape (n_hashes, len(h)).

    Previously Kirsch–Mitzenmacher ``(h1 + i*h2) mod m`` — which has a
    composite-m pathology: whenever ``gcd(h2 mod m, m) > 1`` the probe
    walk visits only ``m/gcd`` distinct slots before cycling. For the
    reference-sized 2-element filter (m = 86 = 2·43), ~1/43 of queried
    elements probe exactly TWO bits, putting a ~1e-2 floor under ANY
    configured fpp (observed: fp=1e-9 filters returning false positives
    on 500-doc corpora). Independent per-round mixing has no walk and
    hence no cycle structure; the cost is one splitmix64 per surviving
    probe, and candidate compression in ``contains_hashes`` keeps the
    expected rounds per non-member near 1/(1-fill).
    """
    mm = np.uint64(m)
    out = np.empty((n_hashes, h.shape[0]), dtype=np.uint64)
    for i in range(n_hashes):
        out[i] = bloom_probe_index(h, i, mm)
    return out
