"""Seeded inputs and exact oracles for the benchmark (no Spark).

Everything the program under test receives is made here from a seed:
document texts, ingest batches, the questions, and the parquet
tables the batch workload reads. Texts are lowercase letter-only words, so
the engine's sanitizer (e-mail, path and phone redaction) leaves them
unchanged and every document id is predictable as ``sha256(text)``.

The oracles re-implement the two rules the checks depend on, from their
definitions rather than by importing the engine: the sha256 hash embedder
(``v[i] = int(sha256(f"{text}|{i}")[:8]) % 1000 / 1000``) and the
content-addressed id (sha256 hex of the UTF-8 text).
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

import numpy as np

DIM = 64

_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
_VOWELS = ("a", "e", "i", "o", "u")


# Words of the repository's synthetic test tables (TESTDATA.md); the
# declared suite's fixed queries ("spark join vector", "merge sort", ...)
# are made of them.
COMMON_WORDS = (
    "the a data table query spark join vector value key row scan part hash "
    "merge batch window order column small big line customer filter group "
    "sort stream fast slow agg"
).split()


def vocabulary(n: int = 400) -> list[str]:
    """``n`` distinct letter-only words, the same on every call: the common
    words first, then pronounceable two- and three-syllable words."""
    rng = random.Random(0)
    words: dict[str, None] = dict.fromkeys(COMMON_WORDS)
    while len(words) < n:
        k = rng.choice((2, 3))
        words["".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(k))] = None
    return list(words)


VOCAB = vocabulary()
# Zipf-like term frequencies: a few common words, a long tail
_WEIGHTS = [1.0 / (r + 1) ** 0.9 for r in range(len(VOCAB))]


def texts(seed: int, n: int, avoid: set[str] | frozenset = frozenset()) -> list[str]:
    """``n`` distinct document texts of 8-40 words, none of them in
    ``avoid``."""
    rng = random.Random(seed)
    out: dict[str, None] = {}
    while len(out) < n:
        t = " ".join(rng.choices(VOCAB, weights=_WEIGHTS, k=rng.randint(8, 40)))
        if t not in avoid:
            out[t] = None
    return list(out)


def content_id(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def hash_embed(text: str, dim: int = DIM) -> np.ndarray:
    return np.array(
        [
            int.from_bytes(hashlib.sha256(f"{text}|{i}".encode()).digest()[:8], "big") % 1000 / 1000.0
            for i in range(dim)
        ]
    )


class Corpus:
    """The documents of one collection, with their ids and the float32
    vectors the engine stores for them."""

    def __init__(self, docs: list[str]):
        self.docs = list(docs)
        self.ids = [content_id(t) for t in self.docs]
        self.by_id = dict(zip(self.ids, self.docs))
        mat = np.stack([hash_embed(t) for t in self.docs]).astype(np.float32).astype(np.float64)
        self.unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        self.terms = sorted({w for t in self.docs for w in t.split()})

    def extend(self, docs: list[str]) -> None:
        merged = Corpus(self.docs + list(docs))
        self.__dict__.update(merged.__dict__)

    def user_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.docs)

    def cosine(self, question: str) -> np.ndarray:
        q = hash_embed(question)
        return self.unit @ (q / np.linalg.norm(q))

    def exact_topk(self, question: str, k: int) -> list[str]:
        """Exact cosine top-k ids, ties broken by id."""
        scores = self.cosine(question)
        order = sorted(range(len(self.ids)), key=lambda i: (-scores[i], self.ids[i]))
        return [self.ids[i] for i in order[:k]]


def question(rng: random.Random, terms: list[str]) -> str:
    """A three-word query drawn from the collection's own vocabulary, so
    lexical legs always have postings to hit."""
    return " ".join(rng.sample(terms, 3))


def batch_tables(seed: int, out_dir: Path, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` in the schema
    the declared suite reads. A tenth of the documents and vectors are
    near-duplicates of earlier ones, so the dedup entries have pairs to
    find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    docs = texts(seed, n_docs)
    for i in range(n_docs // 10):
        words = docs[rng.randrange(len(docs))].split()
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
        docs[n_docs - 1 - i] = " ".join(words)
    langs = ("en", "en", "en", "de", "es", "fr", "zh")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array([rng.choice(langs) for _ in docs], pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in docs], pa.int64()),
            }
        ),
        out_dir / "documents.parquet",
    )
    centers = nprng.normal(size=(10, DIM))
    labels = nprng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + nprng.normal(scale=1.5, size=(n_vecs, DIM))
    for i in range(n_vecs // 10):
        j = n_vecs - 1 - i
        vecs[j] = vecs[rng.randrange(n_vecs - n_vecs // 10)] + nprng.normal(scale=0.01, size=DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        out_dir / "embeddings.parquet",
    )
