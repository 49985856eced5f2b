"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
sizes write byte-identical files. The program under test only ever sees
the paths written here.

- `events`: the event log the stream gates replay, with the column
  names, types and value domains the query surface reads (parquet).
- `corpus`: whole text files of uneven size whose word frequencies follow
  a Zipf distribution, the input of the MapReduce apps.
- `chains`: a `documents` table holding long near-duplicate chains (each
  doc one token edit from the previous one, ids increasing along the
  chain) among unrelated filler docs, so label propagation must cross
  the whole chain diameter.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def events(out, n, seed):
    """Write `events.parquet`: `n` events over 30 days, as the repository's
    testdata has them (sf 0.01 = 10k events from 150 users)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.lognormal(3.0, 1.2, n), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), f"{out}/events.parquet")


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 11))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


def corpus(out, seed, files, total_bytes, zipf_s, vocab_size):
    """Write `files` text files summing to about `total_bytes`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, vocab_size), dtype=object)
    rng.shuffle(vocab)
    p = np.arange(1, vocab_size + 1, dtype=np.float64) ** -zipf_s
    p /= p.sum()
    # uneven sizes on a fixed profile (largest file ~8x the smallest), so
    # the seed changes the words but not the shape of the map tasks
    share = np.geomspace(1.0, 8.0, files)
    sizes = (share / share.sum() * total_bytes).astype(int)
    for f, size in enumerate(sizes):
        n_words = max(1, size // 6)
        w = vocab[rng.choice(vocab_size, n_words, p=p)]
        caps = rng.random(n_words) < 0.05
        w[caps] = [s.capitalize() for s in w[caps]]
        punct = np.where(rng.random(n_words) < 0.08, ",", "")
        line_end = rng.random(n_words) < 1 / 12
        sep = np.where(line_end, ".\n", " ")
        body = "".join(a + b + c for a, b, c in zip(w, punct, sep))
        with open(f"{out}/pg-{f:02d}.txt", "w") as fh:
            fh.write(body)


def _doc_table(ids, text, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def chains(out, seed, n_chains, chain_len, filler, tokens, vocab_size):
    """Write `documents.parquet`: near-duplicate chains plus filler docs."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, vocab_size))
    texts = []
    for _ in range(n_chains):
        doc = rng.integers(0, vocab_size, tokens)
        for _ in range(chain_len):
            texts.append(" ".join(vocab[doc]))
            doc = doc.copy()
            doc[rng.integers(0, tokens)] = rng.integers(0, vocab_size)
    for _ in range(filler):
        texts.append(" ".join(vocab[rng.integers(0, vocab_size, tokens)]))
    _write(_doc_table(np.arange(len(texts), dtype=np.int64), texts, rng),
           f"{out}/documents.parquet")
