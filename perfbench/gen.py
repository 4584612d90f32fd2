"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` and the size arguments
(plus, for ``corpus``, the ids its ``pick_long`` callback returns): the
same seed writes the same parquet rows. The tables have the column
layout the program's readers expect (``documents(doc_id, text, lang,
source, n_chars)`` and ``embeddings(vec_id, embedding, label)``), so the
program sees them as it sees any other scale-factor directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es")
EMBED_DIM = 64
# A vocabulary this large keeps word bigrams of unrelated documents from
# colliding, so the pair kernels do work in proportion to the planted
# near-duplicates rather than to a small vocabulary's accidental overlap.
VOCAB_SIZE = 50_000
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _vocab(rng: np.random.Generator) -> np.ndarray:
    lens = rng.integers(3, 11, 2 * VOCAB_SIZE)
    codes = _LETTERS[rng.integers(0, 26, (2 * VOCAB_SIZE, 10))]
    words = {codes[i, :n].tobytes().decode() for i, n in enumerate(lens)}
    return np.array(sorted(words))[rng.permutation(len(words))[:VOCAB_SIZE]]


def _text(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab), n_words)])


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _write(out_dir: str, texts: list, langs: list, vecs: np.ndarray,
           rng: np.random.Generator) -> None:
    n = len(texts)
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 5, n).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def corpus(out_dir: str, seed: int, n_docs: int, words=(40, 240),
           pick_long=None, long_bytes: int = 0) -> dict:
    """Documents for the extraction workloads.

    ``pick_long(langs)`` may return doc ids whose text is replaced by one
    of about ``long_bytes`` bytes, so the pages synthesized from them
    exceed the extract straggler threshold. Returns the measured
    properties of what was written.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]
    texts = [_text(rng, vocab, int(rng.integers(*words))) for _ in range(n_docs)]
    long_ids = sorted(pick_long(langs)) if pick_long else []
    avg_word = float(np.mean([len(w) + 1 for w in vocab]))
    for i in long_ids:
        texts[i] = _text(rng, vocab, int(long_bytes / avg_word))
    _write(out_dir, texts, langs, _unit(rng.standard_normal((n_docs, EMBED_DIM))), rng)
    return {"docs": n_docs, "text_bytes": int(sum(len(t) for t in texts)),
            "long_docs": len(long_ids)}


def neardup_corpus(out_dir: str, seed: int, n_docs: int, dup_share: float,
                   mega_cluster: int, words=(30, 120)) -> dict:
    """Documents and embeddings with three planted parts.

    - ``dup_share`` of the documents are lightly edited copies (one to
      three words replaced) of other documents, one to three copies per
      original; their embeddings are the original's plus small noise.
    - ``mega_cluster`` documents share one boilerplate text, each with a
      different one-word tail, and near-identical embeddings.
    - The rest are unrelated texts with random unit embeddings.

    Returns the measured properties, including the share of documents in
    a planted near-dup group and the largest planted cluster.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup - mega_cluster
    texts = [_text(rng, vocab, int(rng.integers(*words))) for _ in range(n_base)]
    vecs = list(_unit(rng.standard_normal((n_base, EMBED_DIM))))
    group_sizes = []
    originals = rng.permutation(n_base)
    while len(texts) < n_base + n_dup:
        src = int(originals[len(group_sizes)])
        copies = min(int(rng.integers(1, 4)), n_base + n_dup - len(texts))
        group_sizes.append(copies + 1)
        for _ in range(copies):
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            vecs.append(_unit(vecs[src] + 0.02 * rng.standard_normal(EMBED_DIM)))
    boiler = _text(rng, vocab, 80)
    center = _unit(rng.standard_normal(EMBED_DIM))
    for _ in range(mega_cluster):
        texts.append(boiler + " " + vocab[int(rng.integers(0, len(vocab)))])
        vecs.append(_unit(center + 0.01 * rng.standard_normal(EMBED_DIM)))
    # shuffle so the planted parts do not sit in contiguous id ranges
    order = rng.permutation(n_docs)
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]
    _write(out_dir, [texts[i] for i in order], langs, np.stack(vecs)[order], rng)
    return {
        "docs": n_docs,
        "text_bytes": int(sum(len(t) for t in texts)),
        "neardup_share": round((n_dup + len(group_sizes) + mega_cluster) / n_docs, 4),
        "largest_cluster": max([mega_cluster] + group_sizes),
    }
