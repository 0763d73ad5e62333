#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

* the input generators are deterministic per seed and differ across seeds;
* the event-log parser reads a tiny real Spark run: jobs carry their span,
  stages carry task, shuffle and Python SQL metrics; the JVM heap reader
  behind ``peak_rss_mb`` answers on the same run;
* span self time, the tail percentile rule, and BENCHMARK.json's metric
  names agree with what run.py and layers.py report.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def test_generators_deterministic() -> None:
    tables = {}
    for seed in (1, 2):
        a, pa_ = gen.sequences(2_000, gen.rng_for(seed, "sketch_build"))
        b, pb = gen.sequences(2_000, gen.rng_for(seed, "sketch_build"))
        assert a.equals(b) and pa_ == pb
        tables[seed] = a
    assert not tables[1].equals(tables[2]), "different seeds must give different inputs"
    other, _ = gen.sequences(2_000, gen.rng_for(2, "checkpoint_resume"))
    assert not tables[2].equals(other), "workloads use separate streams"

    def spell(seed):
        rng = gen.rng_for(seed, "spell_corpus")
        vocab = gen.vocabulary(rng)
        table, ids = gen.corpus(rng, vocab, 20_000)
        q, clean, props = gen.queries(gen.rng_for(seed, "spell_queries"), vocab[:500], [1.0] * 500, 300)
        return vocab.tolist(), table, ids.tolist(), q, clean, props

    one, again, other = spell(5), spell(5), spell(6)
    assert all((x.equals(y) if hasattr(x, "equals") else x == y) for x, y in zip(one, again))
    assert one[0] != other[0] and one[4] != other[4]
    vocab = one[0]
    assert len(set(vocab)) == len(vocab) and all(gen.WORD_LEN[0] <= len(w) <= gen.WORD_LEN[1] for w in vocab)
    assert sum(one[5]["edit_mix"].values()) > 0


def test_eventlog_parser_on_tiny_run() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession

    import eventlog
    from run import JvmHeap

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    ev = os.path.join(work, "eventlog")
    os.makedirs(ev)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + ev)
        .config("spark.eventLog.compress", "false")
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .getOrCreate()
    )
    try:
        tr = Tracer(True, spark.sparkContext)

        def per_batch(batches):
            for pdf in batches:
                yield pd.DataFrame({"g": pdf["id"] % 3, "n": 1})

        with tr.span("tiny", "harness", "p0") as sp:
            rows = spark.range(0, 10_000, numPartitions=4).mapInPandas(per_batch, "g long, n long").groupBy("g").sum("n").collect()
        assert sorted(r[1] for r in rows) == [3333, 3333, 3334]
        heap = JvmHeap(spark)
        assert 0 < heap.in_use_mb() <= heap.committed_mb
    finally:
        spark.stop()
    jobs, stages = eventlog.parse(eventlog.read_events(ev))
    shutil.rmtree(work, ignore_errors=True)
    by_span = eventlog.stages_by_span(jobs, stages)
    sts = by_span.get(str(sp.id), [])
    assert sts, f"no stage tied to the span; spans seen: {list(by_span)}"
    assert sum(st.tasks for st in sts) >= 4
    assert any(st.python["data_sent_bytes"] > 0 and st.python["total_ms"] >= 0 for st in sts)
    assert sum(st.shuffle_write_records for st in sts) == sum(st.shuffle_read_records for st in sts) > 0
    assert all(st.complete_ms >= st.submit_ms > 0 for st in sts)


def test_self_time_and_tail() -> None:
    from run import tail_of

    tr = Tracer(True)
    root = tr.add("pass", "bench", 0.0, 10.0, None, "p")
    tr.add("a", "harness", 1.0, 4.0, root.id, "p")
    tr.add("b", "harness", 3.0, 6.0, root.id, "p")
    tr.add("s", "spark_stage", 1.5, 2.0, 1, "p")
    st = tr.self_times({"p"})
    assert abs(st["bench"] - 5.0) < 1e-9 and abs(st["harness"] - 5.5) < 1e-9 and abs(st["spark_stage"] - 0.5) < 1e-9
    assert tail_of([1.0, 2.0, 3.0]) == (3.0, 100.0, 0)
    assert tail_of([1.0, 2.0, 3.0, 4.0]) == (3.0, 75.0, 1)
    assert tail_of([float(i) for i in range(20)]) == (14.0, 75.0, 5)
    assert tail_of([float(i) for i in range(100)]) == (89.0, 90.0, 10)


def test_benchmark_json_matches() -> None:
    import layers
    from run import E2E_METRICS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [tuple(m) for m in E2E_METRICS]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(layers.METRICS)
    assert [w["name"] for w in spec["workloads"]] == ["sketch_build", "checkpoint_resume", "spell_correct"]


def main() -> int:
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as e:  # report every test, then fail the run
            failed += 1
            print(f"FAIL {t.__name__}: {type(e).__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
