"""Seeded input generators. The same (seed, stream) always gives the
same records and byte-identical files; every generator takes its own
``numpy.random.Generator`` so that a run draws independent streams
(warm-up input, timed input, one directory per pass) from one seed."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# independent random streams of one seed: the stream backlog's warm-up
# and timed files, the corpus shape of the warm-up and the timed passes,
# and each pass's vocabulary
WARM, TIMED, WARM_CORPUS, CORPUS, PASS = range(5)


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# --------------------------------------------------------------------
# stream_topology: a backlog of parquet files, one micro-batch each
# --------------------------------------------------------------------

N_KEYS_STREAM = 400
FILE_SPAN_MS = 1_000  # event-time span one file covers
LATE_SHARE = 0.05  # records that arrive one or two files late
MAX_LATE_MS = 2 * FILE_SPAN_MS


def _zipf_p(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


_STREAM_SCHEMA = pa.schema(
    [("key", pa.string()), ("value", pa.int64()), ("timestamp", pa.timestamp("ms", tz="UTC"))]
)


def stream_file(g: np.random.Generator, index: int, n: int) -> pa.Table:
    """File ``index`` of a backlog: ``n`` records with Zipf keys and
    event times in the file's own second, except ~5% that belong to
    the previous two seconds (late, but within the watermark delay)."""
    keys = g.choice(N_KEYS_STREAM, n, p=_zipf_p(N_KEYS_STREAM))
    values = g.integers(1, 101, n)
    ts = index * FILE_SPAN_MS + g.integers(0, FILE_SPAN_MS, n)
    late = g.random(n) < LATE_SHARE
    ts = np.where(late, np.maximum(ts - g.integers(1, MAX_LATE_MS, n), 0), ts)
    return pa.table(
        [
            pa.array([f"u{k:04d}" for k in keys]),
            pa.array(values, pa.int64()),
            pa.array(ts, pa.timestamp("ms", tz="UTC")),
        ],
        schema=_STREAM_SCHEMA,
    )


def write_backlog(
    g: np.random.Generator, out_dir: str, first: int, count: int, per_file: int
) -> list[str]:
    """Write files ``first .. first+count-1`` of a backlog into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(first, first + count):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(stream_file(g, i, per_file), p)
        paths.append(p)
    return paths


def set_arrival_order(paths: list[str]) -> None:
    """Modification times one second apart, so the file source takes the
    files in list order."""
    base = int(time.time()) - len(paths) - 10
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


# --------------------------------------------------------------------
# llm_training_loops: one documents table per pass
# --------------------------------------------------------------------

N_DOCS = 5_000
VOCAB = 31
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def corpus_structure(g: np.random.Generator, n_docs: int = N_DOCS):
    """The shape shared by every pass of one seed: document lengths,
    word-index sequences, languages and sources (the shape of the sf0.1
    test data's ``documents``: 31-word vocabulary, 10..99 words)."""
    lengths = g.integers(10, 100, n_docs)
    words = [g.integers(0, VOCAB, n) for n in lengths]
    langs = g.choice(len(LANGS), n_docs, p=LANG_P)
    sources = g.integers(0, 50, n_docs)
    return words, langs, sources


def _vocabulary(g: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < VOCAB:
        out.add("".join(g.choice(letters, int(g.integers(3, 9)))))
    return sorted(out)


def write_documents(structure, g: np.random.Generator, out_dir: str) -> str:
    """One pass's directory: the seed's corpus structure under a fresh
    vocabulary bijection (word index -> word). Token identities change,
    so no memo keyed on content or path carries over; lengths, language
    mix and per-document token multiplicities do not, so every pass
    costs the same."""
    words, langs, sources = structure
    vocab = np.array(_vocabulary(g))[g.permutation(VOCAB)]
    texts = [" ".join(vocab[w]) for w in words]
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in langs]),
            "source": pa.array([f"src{s}" for s in sources]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir
