"""The traced run and the per-layer metrics it reports.

The traced run measures untraced passes, restarts Spark with its event log
on and runs traced passes with spans around every call into the package, a
scan-only and a no-op ``mapInArrow`` probe on the same input, then measures
untraced passes again in a fresh session (both untraced sets are the base of
``trace.overhead_s``), and finally replays the Python layers in the driver.
Stage numbers come from the event log; CPU of any interval comes from
sampling the program's process tree.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import eventlog
import replay
import sysmon
from spans import Tracer
from workloads import KINDS, parquet_files

TRACE_SAMPLE_S = 0.05
# per-layer metrics carry no bound and trace.overhead_s compares medians, so
# each of the traced run's three measuring phases needs only two passes
TRACE_MIN_PASSES = 2
PROBE_REPS = 2
SELF_LAYERS = ("bench", "sources", "harness", "checkpoint", "index_build", "spell", "spark_stage")
BUILD_LAYERS = ("harness", "checkpoint")

# (name, unit, better): the per-layer metrics of every workload; a layer a
# workload does not exercise reports 0
METRICS = (
    [
        ("scan.s", "s", "lower"),
        ("scan.input_bytes", "bytes", "lower"),
        ("scan.input_records", "count", "lower"),
        ("arrow_transfer.s", "s", "lower"),
        ("python.boot_s", "s", "lower"),
        ("python.init_s", "s", "lower"),
        ("python.total_s", "s", "lower"),
        ("python.data_sent_bytes", "bytes", "lower"),
        ("python.data_received_bytes", "bytes", "lower"),
        ("shuffle.write_bytes", "bytes", "lower"),
        ("shuffle.read_bytes", "bytes", "lower"),
        ("shuffle.records", "count", "lower"),
        ("jvm.gc_s", "s", "lower"),
        ("jvm.task_run_s", "s", "lower"),
        ("jvm.task_cpu_s", "s", "lower"),
        ("harness.partial_stage_s", "s", "lower"),
        ("harness.partial_stage_cpu_s", "s", "lower"),
        ("harness.partial_task_skew", "ratio", "lower"),
        ("harness.partial_rows", "count", "lower"),
        ("harness.merge_stage_s", "s", "lower"),
        ("harness.merge_stage_cpu_s", "s", "lower"),
        ("harness.merge_fanin_max", "count", "lower"),
        ("harness.driver_collect_s", "s", "lower"),
        ("harness.flatten_s", "s", "lower"),
        ("hashing.hash64_s", "s", "lower"),
        ("hashing.factorize_s", "s", "lower"),
        ("hashing.values", "count", "lower"),
        ("hashing.distinct_ratio", "ratio", "lower"),
    ]
    + [(f"sketches.{k}.{m}", u, "lower") for k in KINDS for m, u in (("update_s", "s"), ("serialize_s", "s"), ("merge_s", "s"), ("payload_bytes", "bytes"))]
    + [
        ("sketches.sparse_share", "ratio", "higher"),
        ("checkpoint.build_s", "s", "lower"),
        ("checkpoint.finalize_s", "s", "lower"),
        ("checkpoint.write_bytes", "bytes", "lower"),
        ("checkpoint.files_written", "count", "lower"),
        ("checkpoint.buckets_built", "count", "lower"),
        ("index_build.s", "s", "lower"),
        ("index_build.cpu_s", "s", "lower"),
        ("index_build.words_in", "count", "lower"),
        ("index_build.index_rows", "count", "lower"),
        ("mutate.deletion_hashes_s", "s", "lower"),
        ("mutate.deletions", "count", "lower"),
        ("spell.deletes_estimated", "count", "lower"),
        ("spell.bloom_build_s", "s", "lower"),
        ("spell.bloom_fill_ratio", "ratio", "lower"),
        ("spell.bloom_fpr_predicted", "ratio", "lower"),
        ("spell.bloom_fpr_measured", "ratio", "lower"),
        ("spell.broadcast_bytes", "bytes", "lower"),
        ("spell.correct_s", "s", "lower"),
        ("spell.correct_cpu_s", "s", "lower"),
        ("spell.distinct_token_ratio", "ratio", "lower"),
        ("spell.bloom_gate_pass_ratio", "ratio", "lower"),
        ("spell.gate_useful_ratio", "ratio", "higher"),
        ("trace.pass_cpu_s", "s", "lower"),
        ("trace.attributed_share", "ratio", "higher"),
        ("trace.overhead_s", "s", "lower"),
    ]
    + [(f"trace.self_s.{layer}", "s", "lower") for layer in SELF_LAYERS]
)


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run_probes(bench, tr) -> None:
    """Scan-only and no-op ``mapInArrow`` jobs on the workload's input table."""
    wl, spark = bench.wl, bench.spark

    def drain(batches):
        n = 0
        for b in batches:
            n += b.num_rows
        yield pa.RecordBatch.from_pydict({"n": [n]})

    for _ in range(PROBE_REPS):
        with tr.span("scan_probe", "sources", "probe"):
            spark.read.parquet(wl.probe_table).select(wl.probe_scan()).collect()
        with tr.span("arrow_probe", "sources", "probe"):
            spark.read.parquet(wl.probe_table).select(*wl.probe_cols).mapInArrow(drain, "n long").collect()


def traced_run(bench, setup_times: list[float], detail: dict) -> dict:
    half = bench.args.seconds / 2
    untraced = bench.measure(half, Tracer(False), "pass", TRACE_MIN_PASSES)
    ev_dir = os.path.join(bench.work, "eventlog")
    os.makedirs(ev_dir)
    spark = bench.start_session(event_dir=ev_dir)
    tr = Tracer(True, spark.sparkContext)
    bench.one_pass(Tracer(False), "tracewarm")
    with sysmon.Sampler(TRACE_SAMPLE_S) as sampler:
        traced = bench.measure(half, tr, "traced", TRACE_MIN_PASSES)
        run_probes(bench, tr)
    deletes = bench.wl.deletes_estimated(spark, bench.last_out) if hasattr(bench.wl, "deletes_estimated") else 0
    # untraced passes on both sides of the traced ones, so that JIT warming
    # and host drift over the run do not pass for tracing overhead
    bench.start_session()  # stopping the traced session flushes its event log
    bench.one_pass(Tracer(False), "afterwarm")
    untraced += bench.measure(half, Tracer(False), "after", TRACE_MIN_PASSES)
    if not untraced or not traced:
        raise RuntimeError(f"no pass succeeded: {bench.failures}")
    jobs, stages = eventlog.parse(eventlog.read_events(ev_dir))
    entries = attach_stages(tr, jobs, stages)
    m = dict.fromkeys((name for name, _, _ in METRICS), 0.0)
    pass_ids = [p["pass"] for p in traced]
    probe_cpu = spark_boundary(m, bench.wl, tr, entries, pass_ids, sampler)
    build_layers(m, tr, jobs, entries, pass_ids, sampler, traced)
    replay_partial_s = None
    if hasattr(bench.wl, "replay"):
        replay_partial_s = sketch_layers(m, bench.wl.replay())
    else:
        spell_layers(m, bench.wl, bench.last_out, tr, pass_ids, sampler, deletes)
    pass_cpu = _med(p["cpu_s"] for p in traced)
    m["trace.pass_cpu_s"] = pass_cpu
    m["trace.attributed_share"] = attributed_cpu(bench.wl, m, replay_partial_s, probe_cpu, tr, pass_ids, sampler) / pass_cpu if pass_cpu else 0.0
    m["trace.overhead_s"] = _med(p["wall_s"] for p in traced) - _med(p["wall_s"] for p in untraced)
    self_s = tr.self_times(set(pass_ids))
    for layer in SELF_LAYERS:
        m[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0) / len(pass_ids)
    detail["passes"] = untraced + traced
    detail["spans_file"] = dump_spans(bench, tr)
    units = {name: unit for name, unit, _ in METRICS}
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def attach_stages(tr, jobs, stages) -> list[tuple]:
    """Add each executed stage as a child span of the call that ran it."""
    by_id = {str(s.id): s for s in tr.spans}
    entries = []
    for sid, sts in eventlog.stages_by_span(jobs, stages).items():
        parent = by_id.get(sid)
        if parent is None:
            continue
        for st in sts:
            tr.add(f"stage{st.stage_id}", "spark_stage", st.submit_ms / 1000, st.complete_ms / 1000, parent.id, parent.pass_id)
            entries.append((parent, st))
    return entries


def _per_pass(pass_ids, fn) -> float:
    return _med(fn(pid) for pid in pass_ids)


def column_chunk_bytes(files: list[str], col: str) -> int:
    """Compressed bytes of ``col``'s column chunks in the Parquet ``files``."""
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += sum(rg.column(c).total_compressed_size for c in range(rg.num_columns) if rg.column(c).path_in_schema.split(".")[0] == col)
    return total


def spark_boundary(m, wl, tr, entries, pass_ids, sampler) -> tuple[float, float]:
    """Fills the Spark-boundary metrics; returns the probes' (scan, arrow) CPU."""
    probe = {name: tr.find(name) for name in ("scan_probe", "arrow_probe")}
    scan_stages = [st for sp, st in entries if sp.name == "scan_probe"]
    m["scan.s"] = _med(sp.duration for sp in probe["scan_probe"])
    # Spark's own input-bytes count for this scan covers little more than the
    # Parquet footers; the column chunks the probe decodes are what it reads
    m["scan.input_bytes"] = column_chunk_bytes(parquet_files(wl.probe_table), wl.scan_col)
    m["scan.input_records"] = sum(st.input_records for st in scan_stages) / PROBE_REPS
    m["arrow_transfer.s"] = _med(sp.duration for sp in probe["arrow_probe"]) - m["scan.s"]

    def total(pid, fn):
        return sum(fn(st) for sp, st in entries if sp.pass_id == pid)

    for key, name in (("boot_ms", "boot_s"), ("init_ms", "init_s"), ("total_ms", "total_s")):
        m[f"python.{name}"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.python[key]) / 1000)
    for key in ("data_sent_bytes", "data_received_bytes"):
        m[f"python.{key}"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.python[key]))
    m["shuffle.write_bytes"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.shuffle_write_bytes))
    m["shuffle.read_bytes"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.shuffle_read_bytes))
    m["shuffle.records"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.shuffle_read_records))
    m["jvm.gc_s"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.gc_ms) / 1000)
    m["jvm.task_run_s"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.run_ms) / 1000)
    m["jvm.task_cpu_s"] = _per_pass(pass_ids, lambda pid: total(pid, lambda st: st.cpu_ns) / 1e9)
    return tuple(_med(_span_cpu(sampler, sp) for sp in probe[name]) for name in ("scan_probe", "arrow_probe"))


def build_layers(m, tr, jobs, entries, pass_ids, sampler, traced) -> None:
    """harness.* and checkpoint.* from the stages of the build calls."""

    def stages(pid, kind):
        out = []
        for sp, st in entries:
            if sp.pass_id != pid or sp.layer not in BUILD_LAYERS or not st.python["data_sent_bytes"]:
                continue
            if (kind == "partial" and st.input_records) or (kind == "merge" and st.shuffle_read_records):
                out.append(st)
        return out

    def cpu(sts):
        return sum(sampler.cpu_between(st.submit_ms / 1000, st.complete_ms / 1000) for st in sts)

    if not any(stages(pid, "partial") for pid in pass_ids):
        return
    m["harness.partial_stage_s"] = _per_pass(pass_ids, lambda pid: sum(st.wall_s for st in stages(pid, "partial")))
    m["harness.partial_stage_cpu_s"] = _per_pass(pass_ids, lambda pid: cpu(stages(pid, "partial")))
    m["harness.partial_task_skew"] = _per_pass(pass_ids, lambda pid: max(st.task_skew for st in stages(pid, "partial")))
    m["harness.partial_rows"] = _per_pass(pass_ids, lambda pid: sum(st.shuffle_write_records for st in stages(pid, "partial")))
    m["harness.merge_stage_s"] = _per_pass(pass_ids, lambda pid: sum(st.wall_s for st in stages(pid, "merge")))
    m["harness.merge_stage_cpu_s"] = _per_pass(pass_ids, lambda pid: cpu(stages(pid, "merge")))
    m["harness.merge_fanin_max"] = _per_pass(pass_ids, lambda pid: max((max(st.task_shuffle_read_records) for st in stages(pid, "merge")), default=0))
    job_end = {}
    for sid, js in eventlog.jobs_by_span(jobs).items():
        job_end[sid] = max(j.end_ms for j in js) / 1000

    def collect_s(pid):
        return sum(max(0.0, sp.end - job_end[str(sp.id)]) for sp in tr.spans if sp.pass_id == pid and sp.layer in BUILD_LAYERS and str(sp.id) in job_end)

    m["harness.driver_collect_s"] = _per_pass(pass_ids, collect_s)

    def span_s(pid, prefix):
        return sum(sp.duration for sp in tr.spans if sp.pass_id == pid and sp.name.startswith(prefix))

    if any(sp.layer == "checkpoint" for sp in tr.spans):
        m["checkpoint.build_s"] = _per_pass(pass_ids, lambda pid: span_s(pid, "run_checkpointed_build"))
        m["checkpoint.finalize_s"] = _per_pass(pass_ids, lambda pid: span_s(pid, "finalize"))
        for key in ("write_bytes", "files_written", "buckets_built"):
            m[f"checkpoint.{key}"] = _med(p["facts"][key] for p in traced)


def sketch_layers(m, rep: dict) -> float:
    """Fills the replayed layers; returns the replayed partial-stage seconds."""
    sec = rep["seconds"]
    m["harness.flatten_s"] = sec.get("flatten", 0.0)
    m["hashing.hash64_s"] = sec.get("hash64", 0.0)
    m["hashing.factorize_s"] = sec.get("factorize", 0.0)
    m["hashing.values"] = rep["values_hashed"]
    m["hashing.distinct_ratio"] = rep["distinct_hashed"] / rep["values_hashed"] if rep["values_hashed"] else 0.0
    for k in KINDS:
        for step in ("update", "serialize", "merge"):
            m[f"sketches.{k}.{step}_s"] = sec.get(f"{k}.{step}", 0.0)
        m[f"sketches.{k}.payload_bytes"] = rep["payload_bytes"].get(k, 0)
    m["sketches.sparse_share"] = rep["sparse_share"]
    # the merge replay is excluded: the merge stage's CPU is measured directly
    return sum(v for key, v in sec.items() if not key.endswith(".merge"))


def spell_layers(m, wl, out, tr, pass_ids, sampler, deletes_estimated: int) -> None:
    from wordspell_spark.operators.spell import IndexProbe
    from wordspell_spark.sketches import bloom

    def span(pid, name):
        return next(sp for sp in tr.spans if sp.pass_id == pid and sp.name == name)

    m["index_build.s"] = _per_pass(pass_ids, lambda pid: span(pid, "build_frequency_index").duration)
    m["index_build.cpu_s"] = _per_pass(pass_ids, lambda pid: _span_cpu(sampler, span(pid, "build_frequency_index")))
    m["index_build.words_in"] = wl.corpus_words
    m["index_build.index_rows"] = out["index_rows"]
    m["spell.bloom_build_s"] = _per_pass(pass_ids, lambda pid: span(pid, "build_deletion_bloom").duration)
    m["spell.correct_s"] = _per_pass(pass_ids, lambda pid: span(pid, "correct_queries").duration)
    m["spell.correct_cpu_s"] = _per_pass(pass_ids, lambda pid: _span_cpu(sampler, span(pid, "correct_queries")))
    m["spell.deletes_estimated"] = deletes_estimated
    words = np.array([w for (_, w) in out["index_words"]], dtype=object)
    freqs = np.array(list(out["index_words"].values()), dtype=np.int64)
    neighbourhood, m["mutate.deletion_hashes_s"] = replay.deletion_neighbourhood(words)
    m["mutate.deletions"] = neighbourhood.size
    state = bloom.deserialize(out["bloom"])
    m["spell.bloom_fill_ratio"] = bloom.fill_ratio(state)
    m["spell.bloom_fpr_predicted"] = bloom.approx_fpr(state)
    members = np.isin(replay.string_hashes(wl.nonmembers), neighbourhood)
    outsiders = wl.nonmembers[~members]
    m["spell.bloom_fpr_measured"] = float(bloom.contains_hashes(state, replay.string_hashes(outsiders)).mean())
    m["spell.broadcast_bytes"] = wl.output_bytes(out)
    tokens = sorted({t.lower() for q in wl.typed for t in q.split()})
    m["spell.distinct_token_ratio"] = wl.query_props["distinct_token_ratio"]
    probe = IndexProbe.from_arrays(words, freqs)
    unresolved = np.array([t for t, hit in zip(tokens, probe.lookup(np.array(tokens, dtype=object))) if hit == 0], dtype=object)
    m["spell.bloom_gate_pass_ratio"], m["spell.gate_useful_ratio"] = replay.bloom_gate(unresolved, probe, state, neighbourhood)


def _span_cpu(sampler, sp) -> float:
    return sampler.cpu_between(sp.start, sp.end)


def attributed_cpu(wl, m, replay_partial_s, probe_cpu, tr, pass_ids, sampler) -> float:
    """CPU seconds per pass that a named layer accounts for.

    Builds: the scan (once per table read), the Arrow transfer, the replayed
    Python layers of the partial stage, and the merge stages.  Spell: the
    index build, Bloom build and correction calls, each measured as a whole.
    """
    if replay_partial_s is not None:
        scan, arrow = probe_cpu
        return wl.scans_per_pass * scan + (arrow - scan) + replay_partial_s + m["harness.merge_stage_cpu_s"]
    layers = ("build_frequency_index", "build_deletion_bloom", "correct_queries")
    return _per_pass(pass_ids, lambda pid: sum(_span_cpu(sampler, sp) for sp in tr.spans if sp.pass_id == pid and sp.name in layers))


def dump_spans(bench, tr) -> str:
    out_dir = os.path.join(os.path.dirname(bench.work), "spans")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{bench.args.workload}-s{bench.args.seed}.json")
    tr.dump(path)
    return os.path.relpath(path, os.path.dirname(os.path.dirname(bench.work)))
