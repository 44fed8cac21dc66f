"""Seeded inputs for the benchmark.

``write_mr_corpus`` writes the ``documents`` table the facade workloads
read, in the layout of the committed fixture: one parquet file holding one
row group, so the single-partition input split shows as it does there.

It is a pure function of its seed: the same seed writes byte-identical
files. ``ensure_mr_corpus`` caches them per seed under the benchmark's
``.cache`` directory, so generation never falls inside a timed region.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, "perfbench", ".cache")

MR_TOKENS = 120_000       # tokens per facade corpus
ZIPF_VOCAB = 50_000       # vocabulary of the skewed corpus
ZIPF_S = 1.1              # Zipf exponent of the skewed corpus
DELIM_RUN_SHARE = 0.01    # share of separators that are delimiter runs
DOC_WORDS = (10, 100)     # words per document, uniform, as in the fixture
DELIM_RUNS = ("  ", "\t ", " \t\t", "\t\t")


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 3 to 10 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    words: dict[str, None] = {}
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 11, n)
        chars = letters[rng.integers(0, 26, (n, 10))]
        for row, k in zip(chars, lens):
            words.setdefault(b"".join(row[:k]).decode())
    return np.array(list(words)[:size], dtype=object)


def corpus_tokens(kind: str, seed: int, n_tokens: int = MR_TOKENS) -> np.ndarray:
    """The token stream of one corpus: ``zipf`` draws from a Zipf(s=1.1)
    distribution over a 50k-word vocabulary; ``distinct`` draws uniformly
    from a vocabulary as large as the token count, so most keys occur once."""
    rng = np.random.default_rng([seed, 0 if kind == "zipf" else 1])
    if kind == "zipf":
        vocab = _vocabulary(rng, ZIPF_VOCAB)
        p = 1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_S
        cdf = np.cumsum(p / p.sum())
        idx = np.minimum(np.searchsorted(cdf, rng.random(n_tokens)), ZIPF_VOCAB - 1)
    elif kind == "distinct":
        vocab = _vocabulary(rng, n_tokens)
        idx = rng.integers(0, n_tokens, n_tokens)
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    return vocab[idx]


def documents_table(kind: str, seed: int, n_tokens: int = MR_TOKENS) -> pa.Table:
    """Split the token stream into documents of 10-100 words. About 1% of
    the separators are delimiter runs (double spaces, tabs), which the
    word-count mapper turns into empty keys for the emit guard to drop."""
    tokens = corpus_tokens(kind, seed, n_tokens)
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    pos = 0
    while pos < len(tokens):
        n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
        words = tokens[pos:pos + n]
        pos += n
        seps = np.full(len(words) - 1, " ", dtype=object)
        runs = rng.random(len(seps)) < DELIM_RUN_SHARE
        seps[runs] = rng.choice(DELIM_RUNS, int(runs.sum()))
        parts = [None] * (2 * len(words) - 1)
        parts[::2] = words
        parts[1::2] = seps
        texts.append("".join(parts))
    n_docs = len(texts)
    return pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(("en", "fr", "de", "es", "zh"), n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def load_repo_module(relpath: str):
    """Import a repository file that is not part of the package."""
    path = os.path.join(ROOT, relpath)
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_mr_corpus(out_dir: str, kind: str, seed: int) -> None:
    """The facade corpus as ``documents``, beside the nine other tables,
    which the facade jobs do not read but the warm-up and the DuckDB
    oracle's views do: those come from the repository's fixture generator
    (``scripts/gen_fixture.py``) at its own small row counts."""
    load_repo_module("scripts/gen_fixture.py").generate(out_dir, seed)
    pq.write_table(documents_table(kind, seed), os.path.join(out_dir, "documents.parquet"))


def _ensure(out_dir: str, write) -> str:
    if not os.path.exists(os.path.join(out_dir, ".complete")):
        tmp = out_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.replace(tmp, out_dir)
    return out_dir


def _generator_digest() -> str:
    """Changes whenever this file or the fixture generator changes, so a
    cached corpus is never one an older generator wrote."""
    h = hashlib.sha256()
    for path in (__file__, os.path.join(ROOT, "scripts", "gen_fixture.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def mr_corpus_dir(kind: str, seed: int) -> str:
    return os.path.join(CACHE, f"mr_{kind}_seed{seed}_{_generator_digest()}")


def ensure_mr_corpus(kind: str, seed: int) -> str:
    return _ensure(mr_corpus_dir(kind, seed), lambda d: write_mr_corpus(d, kind, seed))


if __name__ == "__main__":
    # python3 perfbench/corpus.py KIND SEED: generate (or find cached) and
    # print the directory of one facade corpus
    print(ensure_mr_corpus(sys.argv[1], int(sys.argv[2])))
