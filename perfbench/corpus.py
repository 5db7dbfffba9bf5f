"""Seeded, pre-tokenized corpora for the benchmark.

Every random draw is xxhash64 of (stream, index) salted with the run seed,
so one seed always yields the same table, whatever the machine.  The
generated table has the library's input schema:

    doc_id: long, tokens: array<int>, n_tok: int, source: string
    [, positions: array<int>]          (convolution corpora only)

Token ids are skewed as floor(V * u^skew) + 1, so id 1 is the most frequent
and 0 (reserved by the library) never appears.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

_U = np.uint64
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)

# draw streams: one per random quantity, so quantities never share draws
S_LEN, S_TOK, S_SRC, S_PROBE = 1, 2, 3, 5
N_SOURCES = 16


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def xxh64_u64(x: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each 8-byte little-endian value in ``x`` (Spark's
    ``xxhash64(long)`` with ``seed``); vectorized, uint64 in and out."""
    x = np.asarray(x).astype(np.uint64, copy=False)
    with np.errstate(over="ignore"):
        h = np.full(x.shape, (_U(seed & 0xFFFFFFFFFFFFFFFF) + _P5 + _U(8)), dtype=np.uint64)
        k1 = _rotl(x * _P2, 31) * _P1
        h ^= k1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> _U(33)
        h *= _P2
        h ^= h >> _U(29)
        h *= _P3
        h ^= h >> _U(32)
    return h


def uniform(stream: int, idx: np.ndarray, seed: int) -> np.ndarray:
    """Uniform [0, 1) doubles for draw indices ``idx`` of one stream."""
    key = (np.uint64(stream) << _U(48)) ^ np.asarray(idx, dtype=np.uint64)
    return (xxh64_u64(key, seed) >> _U(11)).astype(np.float64) * (1.0 / (1 << 53))


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int
    len_lo: int
    len_hi: int
    n_parts: int
    skew: int = 2  # token ids are floor(vocab * u**skew) + 1
    positions: bool = False  # adjacent positions 1..n_tok per row


@dataclass
class Corpus:
    """The generated table, held as flat numpy arrays for the oracles."""

    spec: CorpusSpec
    doc_id: np.ndarray  # (D,) int64
    offsets: np.ndarray  # (D+1,) int64
    tokens: np.ndarray  # (T,) int32
    source: np.ndarray  # (D,) int32 code into source_names
    positions: np.ndarray | None  # (T,) int32, ascending within a row

    @property
    def n_tok(self) -> np.ndarray:
        return np.diff(self.offsets).astype(np.int32)

    @property
    def n_tokens(self) -> int:
        return int(self.offsets[-1])

    @property
    def source_names(self) -> list[str]:
        return [f"s{i:02d}" for i in range(N_SOURCES)]

    def arrow_table(self) -> pa.Table:
        offsets = pa.array(self.offsets.astype(np.int32))
        cols = {
            "doc_id": pa.array(self.doc_id),
            "tokens": pa.ListArray.from_arrays(offsets, pa.array(self.tokens)),
            "n_tok": pa.array(self.n_tok),
            "source": pa.array(np.array(self.source_names)[self.source], type=pa.string()),
        }
        if self.positions is not None:
            cols["positions"] = pa.ListArray.from_arrays(offsets, pa.array(self.positions))
        return pa.table(cols)


def generate(spec: CorpusSpec, seed: int) -> Corpus:
    d = np.arange(spec.n_docs, dtype=np.int64)
    span = spec.len_hi - spec.len_lo + 1
    lengths = spec.len_lo + (uniform(S_LEN, d, seed) * span).astype(np.int64)
    offsets = np.zeros(spec.n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    t = np.arange(offsets[-1], dtype=np.int64)
    u = uniform(S_TOK, t, seed)
    tokens = (np.floor(spec.vocab * u**spec.skew) + 1).astype(np.int32)
    np.minimum(tokens, spec.vocab, out=tokens)
    us = uniform(S_SRC, d, seed)
    source = np.minimum((N_SOURCES * us * us).astype(np.int32), N_SOURCES - 1)
    positions = None
    if spec.positions:
        row_start = np.repeat(offsets[:-1], lengths)
        positions = (t - row_start + 1).astype(np.int32)
    return Corpus(spec, d, offsets, tokens, source, positions)
