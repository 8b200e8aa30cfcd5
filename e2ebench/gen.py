"""Seeded input generator for the end-to-end benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical parquet files and embedding tables. The library
under test only ever sees the files these functions write.

Text model: a fixed vocabulary split into topics. A document draws one
or two topics and writes 8-16 sentences of 6-12 words, each ending in a
period, so the summarizer takes its TF-IDF path (more sentences than
its 7-sentence early exit) and the LDA fit has topical structure to
find. Only ASCII letters, spaces and periods occur.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TOPICS = 10
WORDS_PER_TOPIC = 30
N_GENERAL = 60
# real words shared by all topics; they include the BM25 query terms of
# similarity.s12_bm25_topk, so that search has postings to score
COMMON = ("batch", "scan", "customer", "spark", "table", "query", "stream",
          "window", "merge", "join", "order", "value", "filter", "vector", "column")
FILLERS = ("the", "and", "of", "to", "in", "with", "for", "on")
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20
EMB_DIM = 64
EMB_CENTRES = 10
DUP_SHARE = 0.1  # share of curation documents that are exact copies, and again near copies

_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "cr", "dr", "gr", "pl", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")
_CODAS = ("", "n", "r", "s", "l", "x", "m")


def _vocabulary() -> list[str]:
    """A fixed list of distinct pseudo-words, 4+ letters each (so the
    tokenizer's len > 2 rule and the stop list never drop them)."""
    rng = random.Random(20240611)
    words: list[str] = []
    seen: set[str] = set()
    need = N_TOPICS * WORDS_PER_TOPIC + N_GENERAL
    while len(words) < need:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(2, 3))
        ) + rng.choice(_CODAS)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary()
TOPIC_WORDS = [
    VOCAB[t * WORDS_PER_TOPIC : (t + 1) * WORDS_PER_TOPIC] for t in range(N_TOPICS)
]
GENERAL_WORDS = VOCAB[N_TOPICS * WORDS_PER_TOPIC :] + list(COMMON)


def _sentence(rng: random.Random, topics: list[int]) -> str:
    words = []
    for _ in range(rng.randint(6, 12)):
        r = rng.random()
        if r < 0.7:
            words.append(rng.choice(TOPIC_WORDS[rng.choice(topics)]))
        elif r < 0.85:
            words.append(rng.choice(GENERAL_WORDS))
        else:
            words.append(rng.choice(FILLERS))
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def document_text(rng: random.Random) -> str:
    topics = rng.sample(range(N_TOPICS), rng.choice((1, 2)))
    return " ".join(_sentence(rng, topics) for _ in range(rng.randint(8, 16)))


def texts(seed: int, n: int, salt: str) -> list[str]:
    rng = random.Random(f"{seed}|{salt}")
    return [document_text(rng) for _ in range(n)]


def upload_documents(docs: list[str]) -> pa.Table:
    """An uploaded batch as the app stores it: ``doc_id`` and ``text``."""
    return pa.table(
        {"doc_id": pa.array(range(len(docs)), pa.int64()), "text": pa.array(docs, pa.string())}
    )


_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def documents_table(doc_ids: list[int], docs: list[str], seed: int) -> pa.Table:
    rng = random.Random(f"{seed}|meta")
    return pa.table(
        {
            "doc_id": doc_ids,
            "text": docs,
            "lang": [rng.choice(LANGS) for _ in docs],
            "source": [f"src{i % N_SOURCES}" for i in doc_ids],
            "n_chars": [len(t) for t in docs],
        },
        schema=_DOC_SCHEMA,
    )


def write_documents(path: str, table: pa.Table, n_files: int) -> None:
    """``documents.parquet`` as a directory of ``n_files`` part files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))


def _mutate(rng: random.Random, text: str) -> str:
    """A near copy: swap a few words for others from the vocabulary."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // 40)):
        i = rng.randrange(len(words))
        tail = "." if words[i].endswith(".") else ""
        words[i] = rng.choice(VOCAB) + tail
    return " ".join(words)


def curation_documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents where about ``DUP_SHARE`` of them are exact
    copies and as many again near copies of earlier original documents
    (never of a copy, so duplicate groups stay small stars)."""
    rng = random.Random(f"{seed}|dups")
    docs = texts(seed, n_docs, "curate")
    originals = [0]
    for i in range(1, n_docs):
        r = rng.random()
        if r < DUP_SHARE:
            docs[i] = docs[rng.choice(originals)]
        elif r < 2 * DUP_SHARE:
            docs[i] = _mutate(rng, docs[rng.choice(originals)])
        else:
            originals.append(i)
    return documents_table(list(range(n_docs)), docs, seed)


def embeddings_table(seed: int, n_vecs: int) -> pa.Table:
    """``n_vecs`` float32 vectors drawn around ``EMB_CENTRES`` centres."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, (EMB_CENTRES, EMB_DIM))
    labels = rng.integers(0, EMB_CENTRES, n_vecs)
    vecs = centres[labels] + rng.normal(0.0, 0.35, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_vecs * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
