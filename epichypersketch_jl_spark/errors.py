"""Typed exceptions (reference: src/errors.jl:4-47)."""


class HyperSketchError(Exception):
    """Base class for all engine errors."""


class ConfigError(HyperSketchError):
    """Invalid HyperSketchConfig parameter (reference src/config.jl:40-45)."""


class InputError(HyperSketchError):
    """Invalid input table: empty, missing columns, inconsistent schema
    (reference src/errors.jl:37-47 validate_activation_dict)."""


class MergeError(HyperSketchError):
    """Attempt to merge incompatible sketches (different seed/shape/params)."""


class BlobError(HyperSketchError, ValueError):
    """A serialized sketch blob (or a checkpoint row holding one) is
    malformed: wrong magic, unknown or unexpected tag, or a declared payload
    length that disagrees with the bytes present (truncated or padded)."""
