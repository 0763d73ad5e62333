"""The three workloads: inputs and exact oracles, one pass, output checks.

Each workload drives the package only through its public functions.  A pass
re-reads its inputs from Parquet and ends when the final result is on the
driver.  ``after_pass`` does the untimed work the checks need.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

import gen
import replay
from wordspell_spark.harness import build_sketches, build_sketches_multi
from wordspell_spark.operators import checkpoint as C
from wordspell_spark.operators import index_build as IB
from wordspell_spark.operators import spell as S
from wordspell_spark.sketches import SketchSpec, bloom, cms, freq, hll, kll, tdigest

# the eight kinds exactly as the spark-submit sketch job builds them
SKETCH_SPECS = {
    "bloom": (SketchSpec("bloom", {"n_estimate": 200_000, "fpr": 0.005}), "tokens"),
    "hll": (SketchSpec("hll", {"p": 12}), "tokens"),
    "cms": (SketchSpec("cms", {"eps": 0.0005, "delta": 0.01}), "tokens"),
    "kll": (SketchSpec("kll", {"k": 200}), "n_tok"),
    "tdigest": (SketchSpec("tdigest", {"delta": 100.0}), "n_tok"),
    "theta": (SketchSpec("theta", {"k": 4096}), "tokens"),
    "freq": (SketchSpec("freq", {"k": 256}), "tokens"),
    "sample": (SketchSpec("sample", {"k": 1024}), "tokens"),
}
KINDS = sorted(SKETCH_SPECS)
QUANTILES = (0.5, 0.9, 0.99)
TDIGEST_RANK_EPS = 0.03  # the merged-digest bound the kernel tests hold
TOP_TOKENS = 100


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def _dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _rank_error(sorted_vals: np.ndarray, estimate: float, q: float) -> float:
    """Distance from q to the true rank interval of ``estimate``."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, estimate, side="left") / n
    hi = np.searchsorted(sorted_vals, estimate, side="right") / n
    return max(0.0, lo - q, q - hi)


class _SequencesOracle:
    """Exact per-source facts of a ``sequences`` table."""

    def __init__(self, table):
        tokens = table.column("tokens").combine_chunks()
        flat = tokens.values.to_numpy()
        n_tok = table.column("n_tok").to_numpy()
        src = pc.index_in(table.column("source"), value_set=pa.array(gen.SOURCES)).to_numpy()
        per_token_src = np.repeat(src, n_tok)
        counts = np.bincount(per_token_src.astype(np.int64) * gen.VOCAB_SIZE + flat, minlength=len(gen.SOURCES) * gen.VOCAB_SIZE)
        self.rows = len(n_tok)
        self.groups = {}
        for i, s in enumerate(gen.SOURCES):
            c = counts[i * gen.VOCAB_SIZE : (i + 1) * gen.VOCAB_SIZE]
            top = np.argsort(-c, kind="stable")[:TOP_TOKENS]
            self.groups[s] = {
                "rows": int(np.count_nonzero(src == i)),
                "tokens": int(c.sum()),
                "distinct": np.flatnonzero(c).astype(np.int32),
                "top": top.astype(np.int32),
                "top_counts": c[top],
                "n_tok_sorted": np.sort(n_tok[src == i]),
            }


class SketchBuild:
    name = "sketch_build"
    rows = 400_000
    scans_per_pass = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.path = self.probe_table = os.path.join(work, "sequences")

    def generate(self) -> dict:
        table, props = gen.sequences(self.rows, gen.rng_for(self.seed, self.name))
        gen.write_parquet(table, self.path, gen.SEQUENCE_FILES)
        self.oracle = _SequencesOracle(table)
        self.items = props["tokens"]
        return props

    def run_pass(self, spark, tr, pid: str):
        with tr.span("read_parquet", "sources", pid):
            df = spark.read.parquet(self.path)
        with tr.span("build_sketches_multi", "harness", pid):
            rows = build_sketches_multi(df, {k: SKETCH_SPECS[k] for k in KINDS}, ["source"]).collect()
        return {(r["source"], r["kind"]): (bytes(r["sketch"]), r["rows"], r["items"]) for r in rows}

    def after_pass(self, spark, out):
        return out

    def output_bytes(self, out) -> int:
        return sum(len(v[0]) for v in out.values())

    def facts(self, out) -> dict:
        return {}

    def check(self, spark, out, first) -> dict[str, bool]:
        if first is not out:
            return {"payloads_identical_across_passes": out == first}
        res: dict[str, bool] = {"all_groups_and_kinds": set(out) == {(s, k) for s in gen.SOURCES for k in KINDS}}
        for s, g in self.oracle.groups.items():
            for k in KINDS:
                if (s, k) not in out:
                    continue
                payload, rows, items = out[(s, k)]
                want_items = g["tokens"] if SKETCH_SPECS[k][1] == "tokens" else g["rows"]
                res[f"{s}.{k}.rows_items"] = rows == g["rows"] and items == want_items
            st = {k: SKETCH_SPECS[k][0].deserialize(out[(s, k)][0]) for k in KINDS if (s, k) in out}
            if len(st) < len(KINDS):
                continue
            true_d = g["distinct"].size
            res[f"{s}.hll_within_3rse"] = abs(hll.estimate(st["hll"]) - true_d) <= 3 * hll.rse(st["hll"]) * true_d
            est = cms.query(st["cms"], g["top"])
            res[f"{s}.cms_bounds"] = bool(np.all(est >= g["top_counts"]) and np.all(est - g["top_counts"] <= cms.error_bound(st["cms"])))
            res[f"{s}.bloom_no_false_negative"] = bool(bloom.contains(st["bloom"], g["distinct"]).all())
            for q in QUANTILES:
                res[f"{s}.kll_rank_q{q}"] = _rank_error(g["n_tok_sorted"], float(kll.quantile(st["kll"], q)[0]), q) <= kll.error_bound(st["kll"])
                res[f"{s}.tdigest_rank_q{q}"] = _rank_error(g["n_tok_sorted"], float(tdigest.quantile(st["tdigest"], q)[0]), q) <= TDIGEST_RANK_EPS
            under = g["top_counts"] - freq.query(st["freq"], g["top"])
            res[f"{s}.mg_undercount"] = bool(np.all(under >= 0) and np.all(under <= g["tokens"] / (st["freq"].k + 1)))
        return res

    def cleanup(self, out) -> None:
        pass

    def replay(self) -> dict:
        return replay.replay_sketches(parquet_files(self.path), {k: SKETCH_SPECS[k] for k in KINDS}, ["source"], shared_hash=True)

    probe_cols = ("source", "tokens", "n_tok")
    scan_col = "tokens"
    probe_scan = staticmethod(lambda: F.sum(F.size("tokens")))


class CheckpointResume:
    name = "checkpoint_resume"
    rows = 100_000
    spec = SketchSpec("hll", {"p": 12})
    buckets = 64
    first_run_buckets = 32
    job = "bench"
    scans_per_pass = 2  # each checkpointed run reads the whole table

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.path = self.probe_table = os.path.join(work, "sequences")
        self.n_pass = 0

    def generate(self) -> dict:
        table, props = gen.sequences(self.rows, gen.rng_for(self.seed, self.name))
        gen.write_parquet(table, self.path, gen.SEQUENCE_FILES)
        self.items = props["tokens"]
        self.oneshot = None
        return props

    def _oneshot(self, spark) -> dict:
        if self.oneshot is None:
            rows = build_sketches(spark.read.parquet(self.path), self.spec, ["source"], "tokens").collect()
            self.oneshot = {r["source"]: bytes(r["sketch"]) for r in rows}
        return self.oneshot

    def run_pass(self, spark, tr, pid: str):
        self.n_pass += 1
        ck = os.path.join(self.work, f"checkpoint-{self.n_pass}")
        args = (self.spec, ["source"], "tokens", "doc_id", ck, self.job, self.buckets)
        with tr.span("read_parquet", "sources", pid):
            df = spark.read.parquet(self.path)
        with tr.span("run_checkpointed_build.first", "checkpoint", pid):
            first = C.run_checkpointed_build(df, *args, max_buckets_this_run=self.first_run_buckets)
        with tr.span("run_checkpointed_build.resume", "checkpoint", pid):
            resumed = C.run_checkpointed_build(df, *args)
        with tr.span("finalize", "checkpoint", pid):
            rows = C.finalize(spark, self.spec, ["source"], ck, self.job, self.buckets).collect()
        return {"dir": ck, "built": (first, resumed), "payloads": {r["source"]: bytes(r["sketch"]) for r in rows}}

    def after_pass(self, spark, out):
        out["bytes"], out["files"] = _dir_usage(out["dir"])
        return out

    def output_bytes(self, out) -> int:
        return out["bytes"]

    def facts(self, out) -> dict:
        return {"write_bytes": out["bytes"], "files_written": out["files"], "buckets_built": sum(out["built"])}

    def check(self, spark, out, first) -> dict[str, bool]:
        res = {
            "finalize_equals_oneshot_build": out["payloads"] == self._oneshot(spark),
            "buckets_built": out["built"] == (self.first_run_buckets, self.buckets - self.first_run_buckets),
        }
        if first is out:
            mani = spark.read.parquet(os.path.join(out["dir"], self.job, "manifest")).collect()
            runs: dict[str, set] = {}
            for r in mani:
                runs.setdefault(r["run"], set()).add(r["bucket"])
            sets = list(runs.values())
            res["resume_builds_exactly_missing"] = (
                len(sets) == 2 and not (sets[0] & sets[1]) and (sets[0] | sets[1]) == set(range(self.buckets))
            )
            lineage = C.lineage_metrics(spark, out["dir"], self.job).agg(F.sum("rows")).first()[0]
            res["lineage_rows_sum_to_input"] = lineage == self.rows
        return res

    def cleanup(self, out) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)

    def replay(self) -> dict:
        return replay.replay_sketches(parquet_files(self.path), {"hll": (self.spec, "tokens")}, ["source"], shared_hash=False, bucket=("doc_id", self.buckets))

    probe_cols = ("source", "tokens", "doc_id")
    scan_col = "tokens"
    probe_scan = staticmethod(lambda: F.sum(F.size("tokens")))


class SpellCorrect:
    name = "spell_correct"
    # The reference refresh indexes ~5M words at the default thresholds
    # (en >= 10, ru >= 23, pairs >= 50) into ~25k rows.  The index size sets
    # the correction cost and the corpus size the index-build cost, so the
    # corpus is 0.16 of that and the thresholds are scaled with it: the index
    # keeps the reference's size and Latin/Cyrillic mix while a pass stays a
    # few seconds.
    corpus_words = 800_000
    thresholds = {"en": 2, "ru": 4}
    pair_threshold = 8
    n_queries = 5_000
    nonmember_probes = 20_000

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.corpus_path = self.probe_table = os.path.join(work, "corpus")
        self.query_path = os.path.join(work, "queries")

    def generate(self) -> dict:
        rng = gen.rng_for(self.seed, "spell_corpus")
        vocab = gen.vocabulary(rng)
        table, ids = gen.corpus(rng, vocab, self.corpus_words)
        gen.write_parquet(table, self.corpus_path, 8)
        counts = np.bincount(ids, minlength=len(vocab))
        is_en = np.array([w[0] in gen.EN_LETTERS for w in vocab])
        keep = counts >= np.where(is_en, self.thresholds["en"], self.thresholds["ru"])
        self.index_oracle = dict(zip(vocab[keep], counts[keep].tolist()))
        qt, self.clean, qprops = gen.queries(gen.rng_for(self.seed, "spell_queries"), vocab[keep], counts[keep], self.n_queries)
        gen.write_parquet(qt, self.query_path, 4)
        self.typed = qt.column("query").to_pylist()
        self.nonmembers = gen.nonmembers(gen.rng_for(self.seed, "spell_nonmembers"), self.nonmember_probes)
        self.items = self.n_queries
        self.query_props = qprops
        return {"vocabulary": len(vocab), "corpus_words": self.corpus_words, "docs": table.num_rows, "indexed_unigrams": int(keep.sum()), **qprops}

    def run_pass(self, spark, tr, pid: str):
        with tr.span("read_parquet", "sources", pid):
            corpus = spark.read.parquet(self.corpus_path)
            queries = spark.read.parquet(self.query_path)
        with tr.span("build_frequency_index", "index_build", pid):
            index = IB.build_frequency_index(corpus, "text", ["doc_id"], self.thresholds, self.pair_threshold).cache()
            n_index = index.count()
        with tr.span("build_deletion_bloom", "spell", pid):
            payload = S.build_deletion_bloom(index)
        with tr.span("correct_queries", "spell", pid):
            rows = S.correct_queries(queries, index, payload).collect()
        return {"index": index, "index_rows": n_index, "bloom": payload, "corrected": {r["qid"]: r["corrected"] for r in rows}}

    def after_pass(self, spark, out):
        index = out.pop("index")
        out["index_words"] = {(r["lang"], r["word"]): r["freq"] for r in index.collect()}
        index.unpersist()
        return out

    def facts(self, out) -> dict:
        return {"index_rows": out["index_rows"], "bloom_bytes": len(out["bloom"])}

    def output_bytes(self, out) -> int:
        # the index as correct_queries broadcasts it (u64 hash + i64 freq per
        # row) plus the Bloom payload
        return 16 * out["index_rows"] + len(out["bloom"])

    def correct_rate(self, out) -> float:
        return sum(out["corrected"].get(i) == c for i, c in enumerate(self.clean)) / len(self.clean)

    def check(self, spark, out, first) -> dict[str, bool]:
        uni = {w: f for (_, w), f in out["index_words"].items() if " " not in w}
        res = {"index_unigrams_exact": uni == self.index_oracle}
        neighbourhood, _ = replay.deletion_neighbourhood(np.array(list(uni), dtype=object))
        state = bloom.deserialize(out["bloom"])
        res["bloom_holds_all_deletions"] = bool(bloom.contains_hashes(state, neighbourhood).all())
        single_clean = [i for i, (c, t) in enumerate(zip(self.clean, self.typed)) if c == t and " " not in c]
        res["clean_single_words_unchanged"] = bool(single_clean) and all(out["corrected"].get(i) == self.clean[i] for i in single_clean)
        return res

    def cleanup(self, out) -> None:
        pass

    def deletes_estimated(self, spark, out) -> int:
        index = spark.createDataFrame([(lang, w, f) for (lang, w), f in out["index_words"].items()], "lang string, word string, freq long")
        return S.deletes_estimated(index)

    probe_cols = ("doc_id", "text")
    scan_col = "text"
    probe_scan = staticmethod(lambda: F.sum(F.length("text")))


WORKLOADS = {w.name: w for w in (SketchBuild, CheckpointResume, SpellCorrect)}
