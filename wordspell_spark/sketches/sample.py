"""Mergeable bottom-k-by-hash DISTINCT-VALUE sample kernel.

The value-carrying sibling of the theta sketch (theta.py): where theta
retains only the k smallest ``hash64`` keys (enough for cardinality and
set algebra), this summary retains the VALUES those keys belong to — a
deterministic, mergeable uniform sample of the distinct values of a
column.  What it answers that no other kind here can: "show me ~k
representative distinct tokens per source", "which concrete values does
this barely-seen shard contain", auditing/debug sampling that is STABLE
across re-runs, partitionings and merge trees (``randomSplit``/``sample``
give none of that).

Sampling rule: a value is retained iff its ``hash64`` is among the k
smallest distinct hashes seen — so membership is a pure function of the
value, and the merged sample of any partition tree equals the sample of
the union (bit-exact associative/commutative/idempotent, property-tested;
when merged states hold colliding hashes the smaller value wins, keeping
the merge deterministic; within one batch ``hashing.distinct`` keeps the
first-seen value per hash, see ``update_distinct``).  Below k distinct
values the sample is EXACT — it IS the distinct set — which the
driver-gate oracle exploits the same way theta's exact mode does.

Estimate of total distinct cardinality comes for free (same estimator as
theta: (k-1) * 2^64 / k-th smallest hash, RSE <= 1/sqrt(k-2)).
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde
from .hashing import Distinct, distinct, kmv_estimate, kmv_rse, normalize_items

DEFAULT_K = 1024

_U64 = np.uint64
_PARAMS = struct.Struct("<I")
_BODY_HEAD = struct.Struct("<IB")
_VT_INT = 0
_VT_STR = 1


class SampleState:
    """hashes: sorted ascending distinct u64, len <= k; values[i] is the
    value whose hash64 is hashes[i] (python ints or strs, homogeneous)."""

    __slots__ = ("k", "hashes", "values")

    def __init__(self, k: int, hashes: np.ndarray, values: list):
        self.k = k
        self.hashes = hashes
        self.values = values

    def copy(self) -> "SampleState":
        return SampleState(self.k, self.hashes.copy(), list(self.values))


def create(k: int = DEFAULT_K) -> SampleState:
    if not 16 <= k <= (1 << 20):
        raise ValueError(f"k must be in [16, 2^20], got {k}")
    return SampleState(k, np.empty(0, dtype=_U64), [])


def is_exact(state: SampleState) -> bool:
    return state.hashes.size < state.k


def update(state: SampleState, values) -> SampleState:
    """Add a batch of int or str values; nulls are skipped."""
    return update_distinct(state, distinct(values))


def update_distinct(state: SampleState, d: Distinct) -> SampleState:
    """Add a ``distinct`` batch: only candidates at or below the current
    k-th smallest hash are normalized, so all python-level work runs over
    O(batch-distinct) items, never O(rows) (BASELINE.json input_hint).
    Equal-hash entries reach ``_absorb``'s min-value rule; ``counts`` are
    ignored.  ``distinct`` hands over one value per ``hash64`` class, so
    through ``update`` two values colliding on 64 bits (chance about
    n^2 / 2^65 for a batch of n distinct values) in ONE batch keep the
    first-seen one, not the smaller."""
    h, vals = d.hashes, d.values
    if not is_exact(state):
        keep = h <= state.hashes[-1]
        h, vals = h[keep], vals[keep]
    if h.size == 0:
        return state
    return _absorb(state, h, normalize_items(vals))


def _absorb(state: SampleState, h: np.ndarray, items: list) -> SampleState:
    """Merge (hash, value) candidates into the bottom-k state."""
    if not is_exact(state):
        # <= (not <): an equal-hash candidate must reach the collision
        # min-rule below, or associativity would break in the 2^-64 case
        keep = h <= state.hashes[-1]
        if not keep.any():
            return state
        h = h[keep]
        items = [it for it, k_ in zip(items, keep) if k_]
    cand: dict[int, object] = {}
    for hv, it in zip(h.tolist(), items):
        prev = cand.get(hv)
        # collision rule: smaller value wins (deterministic, associative)
        if prev is None or it < prev:
            cand[hv] = it
    cur = dict(zip(state.hashes.tolist(), state.values))
    for hv, it in cand.items():
        prev = cur.get(hv)
        if prev is None or it < prev:
            cur[hv] = it
    hashes = np.fromiter(cur.keys(), dtype=_U64, count=len(cur))
    order = np.argsort(hashes, kind="stable")
    hashes = hashes[order][: state.k]
    vals_all = list(cur.values())
    state.hashes = hashes
    state.values = [vals_all[i] for i in order[: state.k]]
    return state


def merge(a: SampleState, b: SampleState) -> SampleState:
    if a.k != b.k:
        raise serde.SketchFormatError(f"sample k mismatch: {a.k} vs {b.k}")
    out = a.copy()
    return _absorb(out, b.hashes, list(b.values))


def sample(state: SampleState) -> list:
    """The retained distinct values, in hash order (the canonical order —
    deterministic across any build/merge shape).  Exact-mode states return
    the full distinct set."""
    return list(state.values)


def estimate(state: SampleState) -> float:
    """Distinct-count estimate (the shared KMV estimator, hashing.py)."""
    return kmv_estimate(state.hashes, state.k)


def rse(state: SampleState) -> float:
    return kmv_rse(state.hashes, state.k)


def serialize(state: SampleState) -> bytes:
    n = state.hashes.size
    vtype = _VT_INT
    if state.values and isinstance(state.values[0], str):
        vtype = _VT_STR
    if any(isinstance(v, str) != (vtype == _VT_STR) for v in state.values):
        raise serde.SketchFormatError("sample sketch holds mixed int/str items")
    head = _BODY_HEAD.pack(n, vtype)
    hbytes = np.ascontiguousarray(state.hashes, dtype="<u8").tobytes()
    if vtype == _VT_INT:
        vbytes = np.array(state.values, dtype="<i8").tobytes() if n else b""
        body = head + hbytes + vbytes
    else:
        blobs = [v.encode("utf-8") for v in state.values]
        lens = np.array([len(b) for b in blobs], dtype="<u4").tobytes()
        body = head + hbytes + lens + b"".join(blobs)
    return serde.pack_header(serde.KIND_SAMPLE, _PARAMS.pack(state.k)) + body


def deserialize(payload: bytes) -> SampleState:
    kind, params, body = serde.unpack_header(payload)
    if kind != serde.KIND_SAMPLE:
        raise serde.SketchFormatError(f"not a sample payload (kind={kind})")
    (k,) = _PARAMS.unpack(params)
    if not 16 <= k <= (1 << 20):  # same bounds as create(); corrupt k would
        raise serde.SketchFormatError(f"sample k out of range: {k}")  # crash later
    if len(body) < _BODY_HEAD.size:
        raise serde.SketchFormatError("sample body too short")
    n, vtype = _BODY_HEAD.unpack_from(body, 0)
    if n > k:
        raise serde.SketchFormatError("sample body holds more than k entries")
    off = _BODY_HEAD.size
    hashes = np.frombuffer(body[off : off + 8 * n], dtype="<u8").astype(_U64)
    if hashes.size != n:
        raise serde.SketchFormatError("sample body size mismatch")
    if n > 1 and not (hashes[1:] > hashes[:-1]).all():
        raise serde.SketchFormatError("sample hashes not strictly ascending")
    off += 8 * n
    if vtype == _VT_INT:
        vals_arr = np.frombuffer(body[off : off + 8 * n], dtype="<i8")
        if vals_arr.size != n or len(body) != off + 8 * n:
            raise serde.SketchFormatError("sample body size mismatch")
        values: list = [int(v) for v in vals_arr]
    elif vtype == _VT_STR:
        lens = np.frombuffer(body[off : off + 4 * n], dtype="<u4")
        if lens.size != n:
            raise serde.SketchFormatError("sample body size mismatch")
        off += 4 * n
        blob_len = int(lens.sum())
        if len(body) != off + blob_len:
            raise serde.SketchFormatError("sample body size mismatch")
        blob = bytes(body[off:])
        values, pos = [], 0
        for ln in lens:
            values.append(blob[pos : pos + int(ln)].decode("utf-8"))
            pos += int(ln)
    else:
        raise serde.SketchFormatError(f"unknown sample value type {vtype}")
    return SampleState(k, hashes, values)
