"""Exact numpy oracles over a generated corpus, and the bound checks.

Motif keys follow the library's conventions: an ordinary k-motif is the
sorted tuple of the k token values of a position subset; a convolution
2-motif is (m1, gap, m2) with gap = pos2 - pos1 - filter_len >= 0.
Keys are packed into one int64 for counting and unpacked on return.
"""

from __future__ import annotations

import math
from itertools import combinations

import numpy as np

from corpus import N_SOURCES, Corpus


def _length_groups(c: Corpus):
    """(rows (n, L) tokens, rows (n, L) positions | None) per row length."""
    lengths = np.diff(c.offsets)
    for L in np.unique(lengths):
        idx = np.flatnonzero(lengths == L)
        gather = c.offsets[idx][:, None] + np.arange(L)[None, :]
        pos = c.positions[gather] if c.positions is not None else None
        yield c.tokens[gather].astype(np.int64), pos


def _count_matrix(c: Corpus, lo: int, hi: int) -> np.ndarray:
    """Dense (docs lo..hi, V+1) per-row token counts."""
    V1 = c.spec.vocab + 1
    o = c.offsets[lo : hi + 1]
    rows = np.repeat(np.arange(hi - lo), np.diff(o))
    m = np.zeros((hi - lo) * V1, np.float64)
    np.add.at(m, rows * V1 + c.tokens[o[0] : o[-1]], 1.0)
    return m.reshape(hi - lo, V1)


def _motif_counts_dense(c: Corpus, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiset counts from per-row token-count products (small vocab):
    for a multiset M, sum over rows of prod_t C(n_t, mult_M(t))."""
    V1 = c.spec.vocab + 1
    if k == 1:
        cnt = np.bincount(c.tokens, minlength=V1).astype(np.int64)
        nz = np.flatnonzero(cnt)
        return nz[:, None], cnt[nz]
    s = np.zeros(V1)
    g = np.zeros((V1, V1))
    t = np.zeros((V1, V1, V1)) if k == 3 else None
    step = max(1, (4 << 20) // (V1 * V1))
    for lo in range(0, len(c.doc_id), step):
        m = _count_matrix(c, lo, min(lo + step, len(c.doc_id)))
        s += m.sum(axis=0)
        g += m.T @ m
        if k == 3:
            t += ((m[:, :, None] * m[:, None, :]).reshape(len(m), -1).T @ m).reshape(V1, V1, V1)
    a = np.arange(V1)
    if k == 2:
        out = np.triu(g, 1)
        out[a, a] = (g[a, a] - s) / 2
        keys = np.argwhere(out > 0)
        return keys, np.rint(out[keys[:, 0], keys[:, 1]]).astype(np.int64)
    out = np.zeros_like(t)
    i, j, l = np.meshgrid(a, a, a, indexing="ij")
    lt = (i < j) & (j < l)
    out[lt] = t[lt]
    aab = (i == j) & (j < l)  # {a, a, c}: sum C(n_a, 2) n_c
    out[aab] = ((t - g[i, l]) / 2)[aab]
    abb = (i < j) & (j == l)  # {a, b, b}
    out[abb] = ((t - g[i, j]) / 2)[abb]
    out[a, a, a] = (t[a, a, a] - 3 * g[a, a] + 2 * s) / 6
    keys = np.argwhere(out > 0.5)
    return keys, np.rint(out[keys[:, 0], keys[:, 1], keys[:, 2]]).astype(np.int64)


def _motif_counts_enum(c: Corpus, k: int, filter_len: int) -> tuple[np.ndarray, np.ndarray]:
    """Counts by enumerating every per-row position pair (k = 2)."""
    if k != 2:
        raise ValueError("enumerating oracle covers k = 2")
    V1 = c.spec.vocab + 1
    conv = c.positions is not None
    parts = []
    for tm, pm in _length_groups(c):
        L = tm.shape[1]
        if L < 2:
            continue
        i, j = np.triu_indices(L, 1)
        if conv:
            a, b = tm[:, i], tm[:, j]
            gap = pm[:, j].astype(np.int64) - pm[:, i] - filter_len
            ok = gap >= 0
            parts.append(((a[ok] * 4096 + gap[ok]) * V1 + b[ok]))
        else:
            tm = np.sort(tm, axis=1)
            parts.append((tm[:, i] * V1 + tm[:, j]).ravel())
    packed, counts = np.unique(np.concatenate(parts), return_counts=True)
    if conv:
        keys = np.stack([packed // V1 // 4096, packed // V1 % 4096, packed % V1], axis=1)
    else:
        keys = np.stack([packed // V1, packed % V1], axis=1)
    return keys, counts.astype(np.int64)


def motif_counts(c: Corpus, k: int, filter_len: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Exact (keys (n, kw) int64, occurrence counts (n,)) over the corpus."""
    if c.positions is None and c.spec.vocab <= 64 and k <= 3:
        return _motif_counts_dense(c, k)
    return _motif_counts_enum(c, k, filter_len)


def motif_counts_brute(c: Corpus, k: int, filter_len: int = 0) -> dict[tuple, int]:
    """Per-row itertools enumeration; validates the fast oracles."""
    out: dict[tuple, int] = {}
    for r in range(len(c.doc_id)):
        lo, hi = c.offsets[r], c.offsets[r + 1]
        toks = c.tokens[lo:hi].tolist()
        if c.positions is None:
            for comb in combinations(sorted(toks), k):
                out[comb] = out.get(comb, 0) + 1
            continue
        pos = c.positions[lo:hi].tolist()
        for (p1, t1), (p2, t2) in combinations(zip(pos, toks), 2):
            if p2 - p1 - filter_len >= 0:
                key = (t1, p2 - p1 - filter_len, t2)
                out[key] = out.get(key, 0) + 1
    return out


def n_updates(c: Corpus, k: int) -> int:
    """Sum over rows of C(n_tok, k): the CMS mass N of an ordinary build."""
    L, cnt = np.unique(np.diff(c.offsets), return_counts=True)
    return int(sum(int(n) * math.comb(int(l), k) for l, n in zip(L, cnt)))


class KeyIndex:
    """Exact counts by key, with keys packed into sorted int64 for fast
    lookup (key components are small non-negative ints)."""

    def __init__(self, keys: np.ndarray, counts: np.ndarray):
        self.bits = [max(1, int(m).bit_length()) for m in keys.max(axis=0)]
        if sum(self.bits) > 63:
            raise ValueError("keys too wide to pack")
        packed = self._pack(keys)
        order = np.argsort(packed, kind="stable")
        self.packed, self.counts = packed[order], counts[order]

    def _pack(self, keys: np.ndarray) -> np.ndarray:
        out = np.zeros(len(keys), np.int64)
        for j, b in enumerate(self.bits):
            out = (out << b) | keys[:, j].astype(np.int64)
        return out

    def keys(self, idx: np.ndarray) -> np.ndarray:
        """Unpacked keys (len(idx), kw) at positions ``idx`` of ``counts``."""
        p = self.packed[idx]
        out = np.empty((len(p), len(self.bits)), np.int64)
        for j in range(len(self.bits) - 1, -1, -1):
            out[:, j] = p & ((1 << self.bits[j]) - 1)
            p = p >> self.bits[j]
        return out

    def lookup(self, probe: np.ndarray) -> np.ndarray:
        """Exact counts of ``probe`` keys (0 for keys that never occur)."""
        probe = np.asarray(probe, np.int64).reshape(-1, len(self.bits))
        fits = np.ones(len(probe), bool)
        for j, b in enumerate(self.bits):
            fits &= (probe[:, j] >= 0) & (probe[:, j] < (1 << b))
        p = self._pack(np.where(fits[:, None], probe, 0))
        pos = np.minimum(np.searchsorted(self.packed, p), len(self.packed) - 1)
        hit = fits & (self.packed[pos] == p)
        return np.where(hit, self.counts[pos], 0)


def distinct_per_source(c: Corpus) -> np.ndarray:
    """Exact distinct token count per source code."""
    V1 = c.spec.vocab + 1
    src_tok = np.repeat(c.source.astype(np.int64), np.diff(c.offsets)) * V1 + c.tokens
    u = np.unique(src_tok)
    return np.bincount(u // V1, minlength=N_SOURCES)


def rank_error(sorted_vals: np.ndarray, q: float, est: float) -> float:
    """Distance from q to the normalized rank interval of ``est``, tie-aware
    as the library's own checks: [rank(est-), rank(est+)] / n.  On integer
    data an interpolating sketch returns values between two adjacent data
    values; such an estimate counts as either neighbour, so its interval
    spans both neighbours' ties."""
    v, n = sorted_vals, len(sorted_vals)
    lo = np.searchsorted(v, est, side="left")
    hi = np.searchsorted(v, est, side="right")
    if lo == hi:  # est is not a data value
        lo = np.searchsorted(v, v[lo - 1], side="left") if lo > 0 else 0
        hi = np.searchsorted(v, v[hi], side="right") if hi < n else n
    return float(max(0.0, lo / n - q, q - hi / n))


# ------------------------------------------------------- published bounds


#: standard errors in the HLL bound.  1.04 / sqrt(m) (Flajolet et al.
#: 2007) is a standard error, not a hard bound: at three of them one
#: estimate in 370 misses, and ten runs of enum_large_vocab check 320.
#: At five, a correct sketch misses once in 1.7 million.
HLL_SIGMAS = 5


def hll_bound(p: int) -> float:
    """Relative error bound HLL_SIGMAS * 1.04 / sqrt(2^p)."""
    return HLL_SIGMAS * 1.04 / math.sqrt(1 << p)


def kll_bound(k: int) -> float:
    """Normalized single-rank error at 99% confidence for KLL with
    parameter k, as published with Apache DataSketches: 2.296 / k^0.9723."""
    return 2.296 / k**0.9723


#: two-sided, tie-aware rank-error budget of t-digest at compression 200:
#: the library's own contract (TDIGEST_EPS of its driver checks).  The
#: t-digest papers give no worst-case rank bound to check against.
TDIGEST_RANK_EPS = 0.02


def topk_bound(n: int, counters: int) -> float:
    """Undercount bound of Misra-Gries / Space-Saving with m counters over
    n items: n / (m + 1) (Misra and Gries 1982)."""
    return n / (counters + 1)
