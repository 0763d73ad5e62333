"""Spark aggregation harness — the one aggregation core behind every sketch.

Every sketch result is a byte payload merged in two levels: the Spark-native
generalization of the reference's partial→final additive accumulator merge
(components/index/models.go:58-72) and its single shared Bloom build loop
(builder.go:97-119).

    partial  ``_partials``: mapInPandas over input partitions, one payload
             per (group key, kind) per partition — the map-side combine.
             Each (batch, group, column) is reduced once by
             ``hashing.distinct``; every order-insensitive kind ingests that
             with ``update_distinct``, kll / t-digest ingest raw values.
             Output is tiny: ≤ |groups| × |kinds| rows per partition.
    tree     ``tree_levels``: while more than ``MERGE_FANIN`` partitions
             remain, the partials of ``MERGE_FANIN`` consecutive partitions
             merge per key — the middle levels of a treeAggregate.
    final    ``merge_partials``: groupBy(keys) merge → one payload per group,
             folded in the kind its header names.

``build_sketches``/``build_sketches_multi`` run all three; checkpoint
``finalize`` and the streaming ``merge_into_state`` run the final merge;
``spell.build_deletion_bloom`` runs its own partial, the tree and a driver
``merge_payloads``.

Why this shape at 100 TB: the shuffle after the partial stage moves only
|partitions| × |groups| payloads (KBs each), never raw rows, so a skewed
``source`` (70% web in the fixture) cannot create a hot shuffle partition of
raw data.  Skew is absorbed map-side: a (key, kind) gets at most one partial
per partition, so the partition count alone bounds every merge's fan-in and
the tree keeps it ≤ ``MERGE_FANIN`` (FP-Hadoop, VLDB 2015).  No per-row
Python anywhere: kernels consume whole Arrow batches as numpy arrays.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .sketches import SketchSpec, deserialize_any, merge_payloads, module_for
from .sketches.hashing import Distinct, distinct

MERGE_FANIN = 64  # most payloads per key one merge task reads
PAYLOAD_FIELDS = [
    StructField("sketch", BinaryType(), False),
    StructField("rows", LongType(), False),
    StructField("items", LongType(), False),
]
_PAYLOAD_COLS = [f.name for f in PAYLOAD_FIELDS]
_LEVEL = "__level"


def _flatten_values(series: pd.Series) -> np.ndarray:
    """Column values → flat numpy array; array columns are exploded in C.

    Detects array columns from the first NON-null element — a null in row 0
    must not silently switch a list column onto the scalar path.
    """
    if series.empty:
        return np.empty(0)
    non_null = series.dropna()
    if non_null.empty:
        return np.empty(0)
    first = non_null.iloc[0]
    if isinstance(first, (np.ndarray, list)):
        chunks = [np.asarray(v) for v in non_null if len(v)]
        if not chunks:
            return np.empty(0)
        return np.concatenate(chunks)
    vals = series.to_numpy()
    if vals.dtype == object:
        return vals[pd.notna(vals)]
    return vals[~pd.isna(vals)]


def _partials(
    df: DataFrame, specs: dict[str, tuple[SketchSpec, str]], group_cols: list[str]
) -> DataFrame:
    """One partial per (group key, kind) per partition, all kinds in one pass.

    Per (batch, group) each value column is flattened once and, on its first
    use by an order-insensitive kind, reduced once by ``distinct`` (nulls
    dropped, one entry per ``hash64`` class with its count); every such kind
    reading that column ingests the same reduction.  kll and t-digest depend
    on insertion order and get the flattened values.

    Returns DataFrame[*group_cols, kind, sketch, rows, items].
    """
    value_cols = sorted({vc for _, vc in specs.values()})
    narrow = df.select(*group_cols, *value_cols)
    schema = StructType(
        [narrow.schema[c] for c in group_cols]
        + [StructField("kind", StringType(), False), *PAYLOAD_FIELDS]
    )
    spec_items = sorted(specs.items())  # deterministic kind order

    def partial_build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # states persist across the batch iterator: one partial per
        # *partition*, not per batch
        states: dict[tuple, dict] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            groups = pdf.groupby(group_cols, sort=False, dropna=False) if group_cols else [((), pdf)]
            for key, sub in groups:
                key = key if isinstance(key, tuple) else (key,)
                ent = states.get(key)
                if ent is None:
                    ent = states[key] = {
                        name: [spec.create(), 0, 0] for name, (spec, _) in spec_items
                    }
                flats = {vc: _flatten_values(sub[vc]) for vc in value_cols}
                dists: dict[str, Distinct] = {}
                for name, (spec, vc) in spec_items:
                    st = ent[name]
                    if spec.order_insensitive:
                        if vc not in dists:
                            dists[vc] = distinct(flats[vc])
                        spec.update_distinct(st[0], dists[vc])
                    else:
                        spec.update(st[0], flats[vc])
                    st[1] += len(sub)
                    st[2] += len(flats[vc])
        if not states:
            return
        rows = [
            (*k, name, specs[name][0].serialize(st), nrows, nitems)
            for k, kinds in states.items()
            for name, (st, nrows, nitems) in kinds.items()
        ]
        yield pd.DataFrame(rows, columns=[*group_cols, "kind", *_PAYLOAD_COLS])

    return narrow.mapInPandas(partial_build, schema=schema)


def tree_levels(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Middle merge levels over ``partials`` with ≤ 1 row per key per partition.

    While more than ``MERGE_FANIN`` partitions (or level groups) remain, the
    rows of ``MERGE_FANIN`` consecutive ones merge per key, so no merge task
    ever folds more than ``MERGE_FANIN`` payloads of one key.  Counting the
    partitions plans the input; under adaptive execution an input that
    itself shuffles runs that shuffle first.
    """
    fanin = MERGE_FANIN
    n = partials.rdd.getNumPartitions()
    if n <= fanin:
        return partials
    df = partials.withColumn(_LEVEL, F.spark_partition_id())
    while n > fanin:
        df = merge_partials(df.withColumn(_LEVEL, F.floor(F.col(_LEVEL) / fanin)), [*keys, _LEVEL])
        n = -(-n // fanin)
    return df.drop(_LEVEL)


def merge_partials(df: DataFrame, keys: list[str]) -> DataFrame:
    """One payload per ``keys`` group, keeping ``df``'s schema.

    Payloads fold in the kind their header names; ``rows``/``items`` add up;
    every other column takes its max (e.g. a streaming watermark).
    """
    extra = [c for c in df.columns if c not in (*keys, *_PAYLOAD_COLS)]

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        head = pdf.iloc[:1].reset_index(drop=True)
        head["sketch"] = [merge_payloads(list(pdf["sketch"]))]
        head["rows"] = [int(pdf["rows"].sum())]
        head["items"] = [int(pdf["items"].sum())]
        for c in extra:
            head[c] = [pdf[c].max()]
        return head

    return df.groupBy(*keys).applyInPandas(merge_group, schema=df.schema)


def build_sketches_multi(
    df: DataFrame,
    specs: dict[str, tuple[SketchSpec, str]],
    group_cols: list[str] | None,
) -> DataFrame:
    """Build SEVERAL sketch kinds per group in ONE pass over the data.

    ``specs``: {kind_name: (SketchSpec, value_col)}.  Returns a long-format
    DataFrame[*group_cols, kind STRING, sketch BINARY, rows LONG, items LONG]
    where ``rows`` counts input rows and ``items`` counts values fed to the
    sketch (array columns contribute their element count).

    Why: at 100 TB the scan IS the cost — five separate builds read the
    input five times and pay five job/shuffle latencies.  One mapInPandas
    maintains all states per group and the single merge shuffle carries
    |partitions| x |groups| x |kinds| KB payloads.
    """
    group_cols = list(group_cols or [])
    keys = [*group_cols, "kind"]
    return merge_partials(tree_levels(_partials(df, specs, group_cols), keys), keys)


def build_sketches(
    df: DataFrame,
    spec: SketchSpec,
    group_cols: list[str] | None,
    value_col: str,
) -> DataFrame:
    """Build one merged sketch per group over ``value_col``.

    Returns DataFrame[*group_cols, sketch BINARY, rows LONG, items LONG].
    """
    return build_sketches_multi(df, {spec.kind: (spec, value_col)}, group_cols).drop("kind")


def collect_sketches(result: DataFrame, spec: SketchSpec, group_cols: list[str] | None):
    """Driver-side: final payloads → {group_key: state} (cold-start load,
    parity with the reference's service.go:42-100)."""
    group_cols = list(group_cols or [])
    rows = result.collect()
    if not group_cols:
        assert len(rows) <= 1
        return spec.deserialize(rows[0]["sketch"]) if rows else spec.create()
    out = {}
    for r in rows:
        key = tuple(r[c] for c in group_cols)
        out[key if len(key) > 1 else key[0]] = spec.deserialize(r["sketch"])
    return out


# ---------------------------------------------------------------- query-side

# kind → (point-query function, UDF return type)
_POINT_QUERIES = {"bloom": ("contains", "boolean"), "cms": ("query", "long"), "freq": ("query", "long")}


def make_query_udf(spark: SparkSession, payload: bytes):
    """Broadcast a payload; return a vectorized point-query pandas UDF.

    Bloom answers membership (the query-time ``Test`` gate of the
    reference's service.go:224); CMS and Misra–Gries answer estimated
    counts — CMS never undercounts, MG never overcounts, so querying both
    brackets the true frequency from both sides.
    """
    kind, _ = deserialize_any(payload)
    if kind not in _POINT_QUERIES:
        raise ValueError(f"no point query for {kind!r} payloads; know {sorted(_POINT_QUERIES)}")
    fn_name, return_type = _POINT_QUERIES[kind]
    bc = spark.sparkContext.broadcast(bytes(payload))

    @F.pandas_udf(return_type)
    def point_query(values: pd.Series) -> pd.Series:
        module = module_for(kind)
        return pd.Series(getattr(module, fn_name)(module.deserialize(bc.value), values.to_numpy()))

    return point_query
