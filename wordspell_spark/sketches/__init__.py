"""Sketch kernel registry — the uniform API the Spark harness drives.

Every kernel module implements (SURVEY.md §2.11, the generalization of the
reference's Bloom component Add/Test/Reset/Save/Load surface at
/root/reference/components/bloomfilter/component.go:44-138):

    create(**params) -> state
    update(state, values: np.ndarray) -> state          # batch, vectorized
    merge(a, b) -> state                                # associative-by-bound
    serialize(state) -> bytes                           # versioned LE payload
    deserialize(payload: bytes) -> state

Every order-insensitive kind (bloom, hll, cms, theta, freq, sample) has one
ingest core,

    update_distinct(state, d: hashing.Distinct) -> state

fed the batch's distinct values with their counts and hashes, and its
``update(state, values)`` is ``update_distinct(state, distinct(values))``.
``distinct`` drops nulls and keeps one entry per ``hash64`` class, so the
harness runs it once per column and shares it across kinds.  Each kernel
must stay correct when two entries share a hash.  The value-carrying kinds
(freq, sample) are therefore keyed by hash class when fed through
``distinct``: two values colliding on 64 bits in one batch of n distinct
values (chance about n^2 / 2^65) reach them as one value.  kll and
t-digest depend on insertion order and have only ``update``.

Kernels also have kind-specific query functions (``contains``,
``estimate``, ``query``, ``quantile``).  ``SketchSpec`` captures (kind,
params) so partial builders on executors construct byte-compatible states,
mirroring the reference fixing filter geometry up front
(component.go:60-68).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from . import bloom, cms, freq, hll, kll, sample, serde, tdigest, theta

_MODULES = {
    "bloom": bloom,
    "hll": hll,
    "cms": cms,
    "kll": kll,
    "tdigest": tdigest,
    "theta": theta,
    "freq": freq,
    "sample": sample,
}

_KIND_IDS = {
    "bloom": serde.KIND_BLOOM,
    "hll": serde.KIND_HLL,
    "cms": serde.KIND_CMS,
    "kll": serde.KIND_KLL,
    "tdigest": serde.KIND_TDIGEST,
    "theta": serde.KIND_THETA,
    "freq": serde.KIND_FREQ,
    "sample": serde.KIND_SAMPLE,
}


@dataclass(frozen=True)
class SketchSpec:
    """Picklable description of a sketch family — shipped to executors."""

    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in _MODULES:
            raise ValueError(f"unknown sketch kind {self.kind!r}; know {sorted(_MODULES)}")

    @property
    def module(self):
        return _MODULES[self.kind]

    def create(self):
        return self.module.create(**self.params)

    @property
    def order_insensitive(self) -> bool:
        """True for kinds whose state ignores insertion order and that
        therefore ingest ``distinct`` batches."""
        return hasattr(self.module, "update_distinct")

    def update(self, state, values):
        return self.module.update(state, values)

    def update_distinct(self, state, d):
        return self.module.update_distinct(state, d)

    def merge(self, a, b):
        return self.module.merge(a, b)

    def serialize(self, state) -> bytes:
        return self.module.serialize(state)

    def deserialize(self, payload: bytes):
        return self.module.deserialize(payload)

    def merge_payloads(self, payloads) -> bytes:
        """Fold serialized payloads into one — the UDAF merge contract."""
        return _fold(self.module, payloads)


def module_for(kind: str):
    return _MODULES[kind]


def _kind_of(payload: bytes) -> str:
    kind_id = serde.peek_kind(payload)
    if kind_id not in serde.KIND_NAMES:
        raise serde.SketchFormatError(f"unknown sketch kind id {kind_id}")
    return serde.KIND_NAMES[kind_id]


def _fold(module, payloads) -> bytes:
    it = iter(payloads)
    state = module.deserialize(next(it))
    for p in it:
        state = module.merge(state, module.deserialize(p))
    return module.serialize(state)


def deserialize_any(payload: bytes):
    """Dispatch on the payload header → (kind_name, state)."""
    name = _kind_of(payload)
    return name, _MODULES[name].deserialize(payload)


def merge_payloads(payloads) -> bytes:
    """Fold payloads of one kind into one, the kind read from the first
    header; every kind's ``deserialize`` rejects a foreign payload."""
    payloads = list(payloads)
    return _fold(_MODULES[_kind_of(payloads[0])], payloads)


__all__ = [
    "SketchSpec",
    "bloom",
    "hll",
    "cms",
    "kll",
    "tdigest",
    "theta",
    "freq",
    "sample",
    "serde",
    "module_for",
    "deserialize_any",
    "merge_payloads",
]
