"""Shared protocol for all mergeable sketches.

Every sketch implements:
    zero-construction (constructor with params + seed)
    update_batch(...)   — vectorized numpy ingest, no per-row Python
    merge(other)        — associative + commutative; partition/order invariant
    estimate(...)/query — point or distribution queries
    to_bytes()/from_bytes() — self-describing serialization for shipping
                              through Arrow binary columns and checkpoints

The merge algebra is what makes the Spark plan work: partition-local build
inside mapInArrow, then a treeAggregate-style reduction of serialized blobs
(SURVEY.md §2 #12).  The reference gets the same algebra implicitly by
sharing one sketch object across batches/partitions (src/partition.jl:148).
"""

from __future__ import annotations

import struct
from typing import ClassVar

from ..errors import BlobError

_MAGIC = b"EHS1"
_REGISTRY: dict[bytes, type] = {}


class MergeableSketch:
    """Base: registration + framed serialization dispatch."""

    TAG: ClassVar[bytes] = b"????"  # 4-byte subclass tag

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        if cls.TAG != b"????":
            _REGISTRY[cls.TAG] = cls

    # --- subclass responsibilities -------------------------------------
    def merge(self, other: "MergeableSketch") -> "MergeableSketch":
        raise NotImplementedError

    def _payload(self) -> bytes:
        raise NotImplementedError

    @classmethod
    def _from_payload(cls, payload: bytes) -> "MergeableSketch":
        raise NotImplementedError

    # --- framing --------------------------------------------------------
    def to_bytes(self) -> bytes:
        payload = self._payload()
        return _MAGIC + self.TAG + struct.pack("<q", len(payload)) + payload

    def __add__(self, other):
        return self.merge(other)


def _unframe(blob: bytes, tag: bytes | None = None) -> tuple[type, bytes]:
    """The one frame check every blob parser goes through: magic, a
    registered tag (equal to `tag` when given) and a declared payload length
    equal to the bytes that follow the 16-byte header, so a truncated or
    padded blob raises instead of decoding to a plausible sketch.
    Returns (sketch class, payload)."""
    if len(blob) < 16 or blob[:4] != _MAGIC:
        raise BlobError("not an EHS sketch blob")
    got = bytes(blob[4:8])
    cls = _REGISTRY.get(got)
    if cls is None or (tag is not None and got != tag):
        raise BlobError(f"unexpected sketch tag {got!r}")
    (n,) = struct.unpack("<q", blob[8:16])
    if n != len(blob) - 16:
        raise BlobError(f"blob declares {n} payload bytes but carries {len(blob) - 16}")
    return cls, blob[16:]


def from_bytes(blob: bytes) -> MergeableSketch:
    cls, payload = _unframe(blob)
    return cls._from_payload(payload)
