"""SimHash fallback for short titles (C3 of SURVEY.md §2.8).

Short normalized titles have few shingles, which makes MinHash noisy; the
reference-semantics predicate still needs candidates for them. A 64-bit
SimHash over the same character shingles, keyed by its four 16-bit quarters
(any equal quarter => candidate within the year block), covers Hamming
distance <= 3 pairs with certainty and more distant pairs probabilistically.
The exact verify predicate runs afterwards, so extra candidates only cost
compute, never precision.
"""

from __future__ import annotations

import zlib


def simhash64(text: str, k: int) -> int:
    """64-bit SimHash over k-char shingles (crc32 doubled to 64 bits)."""
    votes = [0] * 64
    n = len(text)
    if n == 0:
        return 0
    rng = range(n - k + 1) if n > k else range(1)
    for i in rng:
        sh = text[i : i + k] if n > k else text
        data = sh.encode("utf-8")
        lo = zlib.crc32(data)
        hi = zlib.crc32(data, 0x9E3779B9)
        h = (hi << 32) | lo
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if votes[bit] > 0:
            out |= 1 << bit
    return out


def simhash64_batch(texts: list, k: int) -> list[int]:
    """Vectorized 64-bit SimHash over the k-char shingle SET of each text —
    the document-scale variant (the per-window scalar ``simhash64`` is for
    <=24-char titles; a 600-char doc would cost ~40k Python ops there).
    Shingle hashing reuses the MinHash kernel's vectorized codepoint
    polynomial; a splitmix64 step widens each 32-bit shingle hash to the 64
    vote bits."""
    import numpy as np

    from biblib_spark.functions.minhash import shingles

    bitpos = np.arange(64, dtype=np.uint64)
    out: list[int] = []
    for t in texts:
        if not isinstance(t, str) or not t:
            out.append(0)
            continue
        h = shingles(t, k)  # uint64 (32-bit values), deduped
        # splitmix64 widen
        z = (h + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        bits = (z[:, None] >> bitpos[None, :]) & np.uint64(1)
        votes = 2 * bits.sum(axis=0).astype(np.int64) - len(z)
        sim = np.uint64(0)
        for bit in np.flatnonzero(votes > 0):
            sim |= np.uint64(1) << np.uint64(bit)
        out.append(int(sim.astype(np.int64)))  # two's-complement into int64
    return out

