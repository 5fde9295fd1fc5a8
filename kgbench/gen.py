"""Seeded input generator for the KG benchmark.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the schema of
the driver test data (see ``tools/gen_sf.py``), but with turn text drawn
Zipf-distributed over a large synthetic vocabulary, so the KB alias table,
the candidate join and the component graph reach realistic sizes instead
of the 30-word vocabulary of the fixed scale-factor tables.

The same ``seed`` and number of turns always yield byte-identical inputs;
the vocabulary is a function of the seed alone.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

import gen_sf  # noqa: E402  (shared schema constants and embedding generator)

VOCAB_SIZE = 50_000
ZIPF_S = 1.05
# The most frequent ranks are short function words: shorter than the
# mention threshold (synth.MENTION_MIN_LEN = 4), so they are context only.
N_FUNCTION_WORDS = 12
N_VECTORS = 4096
MIN_TOKENS, MAX_TOKENS = 10, 100
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """``VOCAB_SIZE`` distinct lower-case pseudo-words, most frequent rank first."""
    lens = rng.integers(4, 12, size=VOCAB_SIZE)
    lens[:N_FUNCTION_WORDS] = rng.integers(1, 4, size=N_FUNCTION_WORDS)
    letters = _LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
    words, seen, off = [], set(), 0
    for i, n in enumerate(lens):
        w = "".join(letters[off : off + n])
        off += n
        if w in seen:  # keep ranks unique; the suffix keeps the length class
            w = f"{w}{i}"
        seen.add(w)
        words.append(w)
    return np.array(words, dtype=object)


def documents(rng: np.random.Generator, n_turns: int, vocab: np.ndarray) -> pa.Table:
    """``n_turns`` rows of (doc_id, text, lang, source, n_chars)."""
    w = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_turns)
    toks = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=w / w.sum())]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n_turns)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_turns, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(gen_sf.LANGS, size=n_turns, p=gen_sf.LANG_P)),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, size=n_turns).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def generate(out_dir: str, n_turns: int, seed: int) -> dict:
    """Write the two input tables; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    docs = documents(rng, n_turns, vocab)
    embs = gen_sf.gen_embeddings(rng, N_VECTORS, skew=False)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"), compression="snappy")
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"), compression="snappy")
    return {"turns": docs.num_rows, "vectors": embs.num_rows}

