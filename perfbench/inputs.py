"""Seeded input generators for the benchmark's three workloads.

Every file is a pure function of ``(workload, seed)``: NumPy's PCG64 stream
drives every choice and the files are written in a fixed order, so the same
seed yields byte-identical inputs. The program under test receives only the
files (a directory path), never the seed.

The table shapes follow the fixture schemas the registered queries read
(``documents``, ``embeddings``, ``events``), at the row counts
of the 0.01 scale factor, so every query's data-relative thresholds select
non-degenerate result sets.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture documents are drawn from this 30-word vocabulary; 5% of them
# are an earlier document with " dup" appended, which is what gives the
# near-duplicate joins their true positives.
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.42, 0.15, 0.14, 0.15, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")

N_DOCS = 500
N_VECS = 500
DIM = 64
N_EVENTS = 4000
N_USERS = 150

# mr_jobs corpus: more files than map tasks, as in the reference's normal
# case (it deals input files round-robin to M map tasks).
MR_FILES = 12
MR_LINES = 24_000
MR_VOCAB = 4000
MR_MAPPERS = 4
MR_REDUCERS = 4


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def documents(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int = N_VECS, dim: int = DIM) -> pa.Table:
    """Unit vectors around ten label centres; 3% are near-copies of an
    earlier vector, so the cosine near-duplicate join has true pairs."""
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centres[labels] + 1.5 * rng.normal(size=(n, dim))
    for i in range(20, n):
        if rng.random() < 0.03:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.01 * rng.normal(size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def events(rng: np.random.Generator, n: int = N_EVENTS, users: int = N_USERS) -> pa.Table:
    """Time-ordered events over 30 days, as the fixture's: ``ts`` rises
    with ``event_id``, values are 2-decimal and positive."""
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def mr_corpus(rng: np.random.Generator, out_dir: str) -> None:
    """Zipf-distributed lowercase words, 4-20 per line, dealt over
    ``MR_FILES`` files. Words are letters only, so the word-count mapper's
    tokenizer returns them unchanged."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < MR_VOCAB:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 11)))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    p = 1.0 / np.arange(1, MR_VOCAB + 1) ** 1.1
    p /= p.sum()
    lens = rng.integers(4, 21, MR_LINES)
    words = rng.choice(MR_VOCAB, int(lens.sum()), p=p)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    per_file: list[list[str]] = [[] for _ in range(MR_FILES)]
    for i in range(MR_LINES):
        line = " ".join(vocab[j] for j in words[bounds[i] : bounds[i + 1]])
        per_file[i % MR_FILES].append(line)
    for f, lines in enumerate(per_file):
        with open(os.path.join(out_dir, f"input-{f:02d}.txt"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")


def make(workload: str, seed: int, out_dir: str) -> None:
    """Write the inputs of ``workload`` for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "mr_jobs":
        mr_corpus(rng, out_dir)
    elif workload == "llm_batch":
        _write(documents(rng), os.path.join(out_dir, "documents.parquet"))
        _write(embeddings(rng), os.path.join(out_dir, "embeddings.parquet"))
    elif workload == "stream_replay":
        _write(events(rng), os.path.join(out_dir, "events.parquet"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
