"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow only, so the inputs do not depend on the
package under test: a change to ``wordspell_spark`` can never change what the
benchmark feeds it.  The same ``(seed, stream)`` always gives the same inputs.

* ``sequences``  -- the north-rule table ``sequences(doc_id, tokens, n_tok,
  source)``: Zipfian (s=1.1) token ids over a 50k vocabulary, log-normal
  document lengths clipped to [1, 512], and a skewed ``source`` column (70 %
  ``web``).  Same distribution as the repository's ``sequences`` fixture.
* ``vocabulary`` / ``corpus`` / ``queries`` -- the wordspell refresh-and-serve
  inputs: the same Zipfian ids mapped onto seeded Latin and Cyrillic
  pseudo-words, documents of whitespace-joined words, and 1-3 word queries in
  which a share of the words carry one seeded edit.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
SOURCES = ["web", "books", "code", "wiki", "forums"]
SOURCE_PROBS = [0.70, 0.10, 0.08, 0.07, 0.05]

# independent random streams per input, so one workload's inputs never shift
# when another's generator changes
STREAMS = {"sketch_build": 1, "checkpoint_resume": 2, "spell_corpus": 3, "spell_queries": 4, "spell_nonmembers": 5}

EN_LETTERS = "abcdefghijklmnopqrstuvwxyz"
RU_LETTERS = "абвгдеёжзийклмнопрстуфхцчшщъыьэюя"
# word lengths 5..9: a split of a clean word into two vocabulary words would
# need >= 10 letters, so clean words never compete with the split tier
WORD_LEN = (5, 9)
EDITS = ("delete", "insert", "transpose", "substitute")
TYPO_SHARE = 0.3
SEQUENCE_FILES = 16  # with an 8 MiB split size, one Spark input partition per file
WORDS_PER_DOC = 40
NONMEMBER_LEN = (3, 8)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), STREAMS[stream]])


def zipf_ids(rng: np.random.Generator, total: int) -> np.ndarray:
    """Truncated Zipfian ranks in [0, VOCAB_SIZE) by inverse-CDF sampling."""
    cdf = np.cumsum(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(total)).astype(np.int32)


def sequences(n_rows: int, rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """The ``sequences`` table plus its traffic properties."""
    n_tok = np.clip(np.round(np.exp(rng.normal(3.5, 1.0, size=n_rows))), 1, 512).astype(np.int32)
    flat = zipf_ids(rng, int(n_tok.sum()))
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    source_idx = rng.choice(len(SOURCES), size=n_rows, p=SOURCE_PROBS)
    table = pa.table(
        {
            "doc_id": pa.array([f"doc-{i:010d}" for i in range(n_rows)], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(n_tok),
            "source": pa.array(np.array(SOURCES, dtype=object)[source_idx], pa.string()),
        }
    )
    group_rows = np.bincount(source_idx, minlength=len(SOURCES))
    props = {
        "rows": n_rows,
        "tokens": int(flat.size),
        "groups": len(SOURCES),
        "group_rows": {s: int(c) for s, c in zip(SOURCES, group_rows)},
        "skew_max_share": round(float(group_rows.max() / n_rows), 4),
        "distinct_tokens": int(np.count_nonzero(np.bincount(flat, minlength=VOCAB_SIZE))),
    }
    return table, props


def write_parquet(table: pa.Table, path: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` Parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """``VOCAB_SIZE`` distinct pseudo-words in Zipf-rank order.

    Length and alphabet follow the rank (lengths cycle through 5..9; three
    in five blocks of five ranks are Latin, the rest Cyrillic) and only the
    letters are seeded.  The few top ranks carry most of the traffic, so a
    seeded length there would swing the corpus size and the correction cost
    from seed to seed.
    """
    ranks = np.arange(VOCAB_SIZE)
    lens = WORD_LEN[0] + ranks % (WORD_LEN[1] - WORD_LEN[0] + 1)
    latin = (ranks // 5) % 5 < 3
    words = np.empty(VOCAB_SIZE, dtype=object)
    seen: set[str] = set()
    for letters, mask in ((EN_LETTERS, latin), (RU_LETTERS, ~latin)):
        idx = np.flatnonzero(mask)
        draws = rng.integers(0, len(letters), size=(idx.size, WORD_LEN[1]))
        for r, row in zip(idx, draws):
            w = "".join(letters[i] for i in row[: lens[r]])
            while w in seen:
                w = "".join(letters[i] for i in rng.integers(0, len(letters), size=lens[r]))
            seen.add(w)
            words[r] = w
    return words


def corpus(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> tuple[pa.Table, np.ndarray]:
    """Documents ``(doc_id, text)`` of Zipfian words, and the word ids in order."""
    ids = zipf_ids(rng, n_words)
    words = vocab[ids]
    n_docs = -(-n_words // WORDS_PER_DOC)
    text = [" ".join(words[i * WORDS_PER_DOC : (i + 1) * WORDS_PER_DOC]) for i in range(n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array([f"d{i:08d}" for i in range(n_docs)], pa.string()),
            "text": pa.array(text, pa.string()),
        }
    )
    return table, ids


def _edit(rng: np.random.Generator, word: str, kind: str) -> str:
    letters = EN_LETTERS if word[0] in EN_LETTERS else RU_LETTERS
    n = len(word)
    if kind == "delete":
        p = int(rng.integers(0, n))
        return word[:p] + word[p + 1 :]
    if kind == "insert":
        p = int(rng.integers(0, n + 1))
        return word[:p] + letters[int(rng.integers(0, len(letters)))] + word[p:]
    if kind == "transpose":
        swappable = [i for i in range(n - 1) if word[i] != word[i + 1]]
        if not swappable:
            return _edit(rng, word, "substitute")
        p = swappable[int(rng.integers(0, len(swappable)))]
        return word[:p] + word[p + 1] + word[p] + word[p + 2 :]
    p = int(rng.integers(0, n))
    others = letters.replace(word[p], "")
    return word[:p] + others[int(rng.integers(0, len(others)))] + word[p + 1 :]


def queries(rng: np.random.Generator, words: np.ndarray, weights: np.ndarray, n: int) -> tuple[pa.Table, list[str], dict]:
    """``n`` queries of 1-3 words drawn by ``weights`` from ``words``.

    Each word gets one edit with probability ``TYPO_SHARE``.  Returns the
    query table ``(qid, query)``, the clean query strings, and the traffic
    properties including the edit mix.
    """
    lens = rng.integers(1, 4, size=n)
    p = np.asarray(weights, dtype=np.float64)
    picks = words[rng.choice(len(words), size=int(lens.sum()), p=p / p.sum())]
    typo = rng.random(picks.size) < TYPO_SHARE
    kinds = rng.integers(0, len(EDITS), size=picks.size)
    typed = [_edit(rng, w, EDITS[k]) if t else w for w, t, k in zip(picks, typo, kinds)]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    clean = [" ".join(picks[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    query = [" ".join(typed[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    table = pa.table({"qid": pa.array(np.arange(n, dtype=np.int64)), "query": pa.array(query, pa.string())})
    props = {
        "queries": n,
        "query_words": int(picks.size),
        "typo_share": round(float(typo.mean()), 4),
        "edit_mix": {e: int(np.count_nonzero(typo & (kinds == i))) for i, e in enumerate(EDITS)},
        "distinct_token_ratio": round(len(set(typed)) / len(typed), 4),
    }
    return table, clean, props


def nonmembers(rng: np.random.Generator, n: int) -> np.ndarray:
    """Random letter strings used to measure the Bloom false-positive rate."""
    out = []
    for letters in (EN_LETTERS, RU_LETTERS):
        alphabet = np.array(list(letters))
        lens = rng.integers(NONMEMBER_LEN[0], NONMEMBER_LEN[1] + 1, size=n // 2)
        chars = alphabet[rng.integers(0, len(alphabet), size=(n // 2, NONMEMBER_LEN[1]))]
        out.extend("".join(row[:k]) for row, k in zip(chars, lens))
    return np.array(out, dtype=object)
