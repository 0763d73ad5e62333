"""Driver-side replay of the Python layers through the package's public kernels.

Spark runs the sketch kernels inside Python workers, where the benchmark
cannot time them.  The traced run therefore replays the same work in the
benchmark process: the same Parquet files, read in Arrow batches of Spark's
default size, one partial state per (file, group) as the partial stage keeps
one per (partition, group), then the per-group merge.  Each layer is timed
on its own, so the timers never overlap.
"""

from __future__ import annotations

import struct
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from wordspell_spark.functions import mutate as M
from wordspell_spark.sketches import bloom, serde
from wordspell_spark.sketches.hashing import hash64, row_hash_u32_matrix

ARROW_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default
_HEADER = struct.Struct("<4sBBHI")  # serde's documented payload header


class Timers(defaultdict):
    def __init__(self):
        super().__init__(float)

    def timed(self, key: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self[key] += time.perf_counter() - t0
        return out


def _flatten(series: pd.Series) -> np.ndarray:
    first = series.iloc[0]
    if isinstance(first, (np.ndarray, list)):
        chunks = [np.asarray(v) for v in series if v is not None and len(v)]
        return np.concatenate(chunks) if chunks else np.empty(0)
    return series.dropna().to_numpy()


def replay_sketches(files: list[str], specs: dict, group_cols: list[str], *, shared_hash: bool, bucket: tuple[str, int] | None = None) -> dict:
    """Replay partial build + merge; returns per-layer seconds, counts and bytes.

    ``specs`` is ``{kind: (SketchSpec, value_col)}``.  ``shared_hash`` mirrors
    the multi-kind build, which hashes each value column once per batch and
    feeds the hash-keyed kinds its distinct hashes and counts; without it
    every kind consumes raw values, as the single-kind build does.
    ``bucket=(key_col, n)`` adds a hash bucket of ``key_col`` to the group key,
    as the checkpointed build does.
    """
    t = Timers()
    value_cols = sorted({vc for _, vc in specs.values()})
    read_cols = sorted(set(group_cols) | set(value_cols) | ({bucket[0]} if bucket else set()))
    keys = list(group_cols) + (["__bucket"] if bucket else [])
    partials: dict[tuple, dict[str, list[bytes]]] = defaultdict(lambda: defaultdict(list))
    values = distinct = sparse = n_partials = 0
    for path in files:
        states: dict[tuple, dict] = {}
        for batch in pq.ParquetFile(path).iter_batches(batch_size=ARROW_BATCH_ROWS, columns=read_cols):
            pdf = t.timed("flatten", batch.to_pandas)
            if bucket:  # Spark computes the bucket in the JVM, so it is not timed
                pdf["__bucket"] = hash64(pdf[bucket[0]].to_numpy()) % np.uint64(bucket[1])
            groups = t.timed("flatten", lambda: list(pdf.groupby(keys, sort=False)))
            for key, sub in groups:
                key = key if isinstance(key, tuple) else (key,)
                ent = states.setdefault(key, {k: spec.create() for k, (spec, _) in specs.items()})
                flats = {vc: t.timed("flatten", _flatten, sub[vc]) for vc in value_cols}
                hashed: dict[str, tuple] = {}
                for kind, (spec, vc) in specs.items():
                    fast = getattr(spec.module, "update_unique_hashes", None) if shared_hash else None
                    if fast is None:
                        t.timed(f"{kind}.update", spec.update, ent[kind], flats[vc])
                        continue
                    if vc not in hashed:
                        h = t.timed("hash64", hash64, flats[vc])
                        codes, uniq = t.timed("factorize", pd.factorize, h)
                        counts = t.timed("factorize", np.bincount, codes)
                        hashed[vc] = (np.asarray(uniq, dtype=np.uint64), counts)
                        values += h.size
                        distinct += len(uniq)
                    t.timed(f"{kind}.update", fast, ent[kind], *hashed[vc])
        for key, kinds in states.items():
            for kind, st in kinds.items():
                payload = t.timed(f"{kind}.serialize", specs[kind][0].serialize, st)
                partials[key][kind].append(payload)
                sparse += bool(_HEADER.unpack_from(payload)[3] & serde.FLAG_SPARSE)
                n_partials += 1
    payload_bytes: dict[str, int] = defaultdict(int)
    for kinds in partials.values():
        for kind, payloads in kinds.items():
            payload_bytes[kind] += len(t.timed(f"{kind}.merge", specs[kind][0].merge_payloads, payloads))
    return {
        "seconds": dict(t),
        "payload_bytes": dict(payload_bytes),
        "values_hashed": values,
        "distinct_hashed": distinct,
        "sparse_share": sparse / n_partials if n_partials else 0.0,
    }


def deletion_neighbourhood(words: np.ndarray) -> tuple[np.ndarray, float]:
    """Hashes of every <=2-deletion of ``words`` and the seconds it took."""
    t0 = time.perf_counter()
    mat, lens = M.encode_words(np.asarray(words, dtype=object))
    hashes = M.deletion_hashes(mat, lens)
    return hashes, time.perf_counter() - t0


def string_hashes(words: np.ndarray) -> np.ndarray:
    """The Bloom key of each string, as the query-side gate computes it."""
    mat, lens = M.encode_words(np.asarray(words, dtype=object))
    return row_hash_u32_matrix(mat, lens)


def bloom_gate(tokens: np.ndarray, probe, bloom_state, neighbourhood: np.ndarray) -> tuple[float, float]:
    """Replay the Bloom gate over the deletion candidates of ``tokens``.

    Tested candidates are every <=2-deletion that is not itself an index
    word.  Returns (share passing the gate, share of passing candidates that
    really are deletions of an index word).
    """
    _, _, cand = M.delete_candidates(np.asarray(tokens, dtype=object))
    tested = cand[probe.lookup(cand) == 0]
    if tested.size == 0:
        return 0.0, 0.0
    h = string_hashes(tested)
    passed = bloom.contains_hashes(bloom_state, h)
    if not passed.any():
        return 0.0, 0.0
    return float(passed.mean()), float(np.isin(h[passed], neighbourhood).mean())
