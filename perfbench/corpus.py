"""Seeded Zipf corpus in graft's `documents` schema (the mr_zipf input).

Tokens follow Zipf(s) over a fixed-size vocabulary of pseudo-words; each
document has a uniform 30..90 tokens. The same seed gives byte-identical
parquet files, so `fingerprint()` of a generated directory is a pure
function of (seed, sizes).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 200_000
ZIPF_S = 1.1
MIN_TOKENS, MAX_TOKENS = 30, 90
FILES = 8  # input splits: enough for every core of a small host to map
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct lowercase pseudo-words of 2..12 letters."""
    words, seen = [], set()
    while len(words) < size:
        n = size - len(words)
        lengths = rng.integers(2, 13, n)
        letters = LETTERS[rng.integers(0, 26, int(lengths.sum()))].tobytes().decode()
        pos = 0
        for ln in lengths:
            w = letters[pos:pos + ln]
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


def zipf_ranks(rng: np.random.Generator, n: int, vocab: int, s: float) -> np.ndarray:
    """n draws of a rank in [0, vocab) with P(rank k) proportional to (k+1)^-s."""
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), vocab - 1)


def generate(out_dir: str, seed: int, docs: int) -> None:
    """Writes `<out_dir>/documents.parquet/part-0000{i}.parquet`."""
    rng = np.random.default_rng(seed)
    words = vocabulary(rng, VOCAB)
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, docs)
    tokens = words[zipf_ranks(rng, int(lengths.sum()), VOCAB, ZIPF_S)]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(tokens[bounds[i]:bounds[i + 1]]) for i in range(docs)]
    doc_id = np.arange(docs, dtype=np.int64)
    table = pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), docs)].tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-docs // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def fingerprint(out_dir: str) -> str:
    """SHA-256 over every generated file's name and bytes."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

