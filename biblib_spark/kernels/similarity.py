"""Jaro / Jaro-Winkler similarity, parity with strsim 0.11.1.

The reference pins ``strsim = 0.11.1`` (Cargo.toml:30) and uses ``jaro`` /
``jaro_winkler`` at thresholds 0.85/0.93/0.99 (src/dedupe.rs:138-142,625-648).
strsim 0.11.1 semantics (verified against strsim's published README values,
e.g. jaro_winkler("cheeseburger", "cheese fries") ≈ 0.911):

- jaro: textbook match window ``max(len)/2 - 1`` (saturating at 0), greedy
  leftmost matching, transpositions = (# mismatched matched positions) // 2.
- jaro_winkler: ``j + 0.1 * prefix * (1 - j)`` with an UNCAPPED common prefix
  (strsim removed the classic 4-char cap) and no 0.7 boost threshold; the
  result is clamped to 1.0.

Operates on Python strings (sequences of unicode scalar values, same unit as
Rust ``char``). A numpy-vectorized batch driver is provided for pandas UDFs.
"""

from __future__ import annotations

import numpy as np


def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    search_range = max(la, lb) // 2
    search_range = search_range - 1 if search_range > 0 else 0

    b_flags = [False] * lb
    a_matches: list[str] = []
    matched_b_positions: list[int] = []
    for i, ca in enumerate(a):
        lo = i - search_range if i > search_range else 0
        hi = min(lb, i + search_range + 1)
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ca:
                b_flags[j] = True
                a_matches.append(ca)
                matched_b_positions.append(j)
                break
    m = len(a_matches)
    if m == 0:
        return 0.0
    b_matches = [b[j] for j in sorted(matched_b_positions)]
    mismatches = sum(1 for x, y in zip(a_matches, b_matches) if x != y)
    t = mismatches // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str) -> float:
    sim = jaro(a, b)
    prefix = 0
    for ca, cb in zip(a, b):
        if ca != cb:
            break
        prefix += 1
    return min(sim + 0.1 * prefix * (1.0 - sim), 1.0)


def _codepoint_matrix(strs: list[str], width: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, width) uint32 codepoint matrix (0-padded) + per-row lengths.

    One vectorized utf-32 decode for the whole batch — no per-char Python.
    """
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    mat = np.zeros((n, width), dtype=np.uint32)
    if n:
        flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        mask = np.arange(width)[None, :] < lens[:, None]
        mat[mask] = flat
    return mat, lens


def _jaro_block(
    A: np.ndarray, la: np.ndarray, B: np.ndarray, lb: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized strsim-parity jaro over a padded codepoint block.

    Returns (jaro, common_prefix_len) for each row. The greedy leftmost
    matching loop runs over a-positions (max title length) with every pair in
    the block advanced per step in numpy — O(La) vector ops of size (n, Lb)
    instead of O(n * La * window) Python char compares.
    """
    n, La = A.shape
    Lb = B.shape[1]
    sr = np.maximum(np.maximum(la, lb) // 2 - 1, 0)

    jidx1 = np.arange(Lb, dtype=np.int64)
    b_free = jidx1[None, :] < lb[:, None]  # not-yet-matched valid b positions
    match_j = np.full((n, La), Lb, dtype=np.int64)  # Lb = "unmatched" sentinel
    matched_a = np.zeros((n, La), dtype=bool)
    rows = np.arange(n)
    sr_col = sr[:, None]
    la_max = int(la.max()) if n else 0

    # Padding is codepoint 0, which real (NUL-free, guaranteed by jaro_batch)
    # strings never contain, so A's padded positions match nothing in B's
    # valid region and B's padding is excluded by b_free — no explicit
    # in-bounds masks needed inside the loop. The window [i-sr, i+sr] is
    # |j - i| <= sr (the upper bound min(lb, i+sr+1) folds into b_free).
    for i in range(min(La, la_max)):
        win = np.abs(jidx1 - i)[None, :] <= sr_col
        cand = (B == A[:, i][:, None]) & win & b_free
        has = cand.any(axis=1)
        if not has.any():
            continue
        fj = cand.argmax(axis=1)  # first True = greedy leftmost
        hit = rows[has]
        b_free[hit, fj[has]] = False
        match_j[hit, i] = fj[has]
        matched_a[hit, i] = True

    m = matched_a.sum(axis=1)

    # a-side matched chars compacted left, in a-position order
    order = np.argsort(~matched_a, axis=1, kind="stable")
    a_seq = np.take_along_axis(A, order, axis=1)
    # b-side matched chars in sorted-b-position order
    sj = np.sort(match_j, axis=1)
    b_seq = np.take_along_axis(B, np.minimum(sj, max(Lb - 1, 0)), axis=1) if Lb else np.zeros_like(A)
    k = np.arange(La, dtype=np.int64)[None, :]
    valid_k = k < m[:, None]
    t = ((a_seq != b_seq) & valid_k).sum(axis=1) // 2

    mf = m.astype(np.float64)
    la_f = np.maximum(la, 1).astype(np.float64)
    lb_f = np.maximum(lb, 1).astype(np.float64)
    sim = (mf / la_f + mf / lb_f + (mf - t) / np.maximum(mf, 1)) / 3.0
    sim = np.where(m == 0, 0.0, sim)
    sim = np.where((la == 0) & (lb == 0), 1.0, sim)
    sim = np.where((la == 0) ^ (lb == 0), 0.0, sim)

    # uncapped common prefix (strsim removed the classic 4-char cap)
    w = min(La, Lb)
    if w:
        eq = (A[:, :w] == B[:, :w]) & (k[:, :w] < np.minimum(la, lb)[:, None])
        prefix = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    return sim, prefix


_BLOCK = 4096


def jaro_batch(
    a_list: list[str], b_list: list[str], winkler: np.ndarray | None = None
) -> np.ndarray:
    """Batch jaro / jaro-winkler over paired string lists.

    ``winkler`` is a bool mask: True rows get the Winkler prefix bonus.
    Pairs are sorted by max length and processed in blocks so padding stays
    tight; scalar-kernel parity is property-tested (tests/test_similarity.py).
    """
    n = len(a_list)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    if winkler is None:
        winkler = np.zeros(n, dtype=bool)
    maxlen = np.fromiter(
        (max(len(a_list[i]), len(b_list[i])) for i in range(n)),
        dtype=np.int64,
        count=n,
    )
    order = np.argsort(maxlen, kind="stable")
    s = 0
    while s < n:
        # cap the (block, La, Lb) candidate tensor at ~32M elements
        width_here = max(int(maxlen[order[s]]), 1)
        block = min(_BLOCK, max(64, 32_000_000 // (width_here * width_here)))
        idx = order[s : s + block]
        s += block
        width = int(maxlen[idx[-1]])
        if width == 0:
            out[idx] = 1.0  # both empty
            continue
        A, la = _codepoint_matrix([a_list[i] for i in idx], width)
        B, lb = _codepoint_matrix([b_list[i] for i in idx], width)
        sim, prefix = _jaro_block(A, la, B, lb)
        wk = winkler[idx]
        jw = np.minimum(sim + 0.1 * prefix * (1.0 - sim), 1.0)
        out[idx] = np.where(wk, jw, sim)
        # the block kernel uses 0 as padding, so strings containing NUL (never
        # produced by the normalizers, but correctness is absolute) fall back
        # to the scalar parity kernel
        cols = np.arange(width)[None, :]
        has_nul = ((A == 0) & (cols < la[:, None])).any(axis=1) | (
            (B == 0) & (cols < lb[:, None])
        ).any(axis=1)
        for r in np.nonzero(has_nul)[0]:
            g = int(idx[r])
            out[g] = (
                jaro_winkler(a_list[g], b_list[g])
                if winkler[g]
                else jaro(a_list[g], b_list[g])
            )
    return out

