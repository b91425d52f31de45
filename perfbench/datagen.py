"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed writes
byte-identical files, so a run can be repeated exactly and two
commits see the same inputs. Nothing here reads outside data.

- ``retail_csv``: the paper's Online-Retail CSV, made by the repo's own
  ``tools/bench_pipeline.generate_csv`` (the quirk mix the clean stages
  exist for: NULL customers, returns, zero quantities, bad dates, dups).
- ``documents``: a text corpus with planted exact duplicates and
  near-duplicate twins, so the dedup ladder has real pairs to find.
"""

from __future__ import annotations

import importlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def retail_csv(path: str, n_rows: int, seed: int) -> None:
    """Write the seeded retail CSV with ``tools/bench_pipeline.generate_csv``.

    That tool parses ``sys.argv[1]`` as a row count at import time, so it
    is imported with a bare argv and the caller's argv restored after.
    """
    saved = sys.argv
    sys.argv = saved[:1]
    try:
        gen = importlib.import_module("tools.bench_pipeline").generate_csv
    finally:
        sys.argv = saved
    gen(path, n_rows, seed=seed)


def _vocabulary(rng: np.random.Generator, n_words: int) -> tuple[np.ndarray, np.ndarray]:
    """Pseudo-words of 2-9 letters with Zipf-like frequencies."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 10))
        words.add("".join(letters[rng.integers(0, 26, size=k)]))
    vocab = np.array(sorted(words))
    rng.shuffle(vocab)
    weights = 1.0 / np.arange(1, n_words + 1) ** 1.05
    return vocab, weights / weights.sum()


def documents(out_dir: str, n_docs: int, seed: int) -> int:
    """Write ``documents.parquet`` under ``out_dir``; return its row count.

    1% of docs get an exact copy and 5% a near-dup twin (every 4th token
    dropped, trigram Jaccard about 1/2), appended after the organic ids.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab, weights = _vocabulary(rng, 3000)
    lens = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(vocab[rng.choice(len(vocab), size=m, p=weights)]) for m in lens]
    lang = rng.choice(np.array(["en", "zh", "es", "fr", "de"]), size=n_docs,
                      p=[0.41, 0.15, 0.15, 0.15, 0.14])
    source = np.array([f"src{i % 20}" for i in range(n_docs)])
    exact_src = rng.choice(n_docs, size=max(1, n_docs // 100), replace=False)
    near_src = rng.choice(n_docs, size=max(1, n_docs // 20), replace=False)
    texts += [texts[s] for s in exact_src]
    texts += [" ".join(t for i, t in enumerate(texts[s].split(" ")) if (i + 1) % 4)
              for s in near_src]
    picks = np.concatenate([np.arange(n_docs), exact_src, near_src])
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang[picks].tolist(), pa.string()),
        "source": pa.array(source[picks].tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return table.num_rows
