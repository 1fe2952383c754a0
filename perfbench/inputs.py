"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical inputs, and each returns the number
of input bytes it produced so storage can be reported per input byte.
Only the generated data reaches the program; the seed never does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

DIM = 64


@dataclass
class Vectors:
    ids: np.ndarray  # int64 [n]
    vecs: np.ndarray  # float64 [n, dim]
    docs: list[str]  # one short payload string per vector

    @property
    def input_bytes(self) -> int:
        return int(self.vecs.nbytes + self.ids.nbytes
                   + sum(len(d.encode()) for d in self.docs))


def clustered_vectors(seed: int, n: int, n_queries: int, dim: int = DIM,
                      n_clusters: int = 250, spread: float = 0.5):
    """Gaussian clusters: a corpus of `n` vectors and `n_queries` fresh
    query vectors drawn from the same mixture.  Returns (corpus, queries)."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.normal(size=(n_clusters, dim))

    def draw(m: int) -> np.ndarray:
        which = rng.integers(0, n_clusters, m)
        return centers[which] + spread * rng.normal(size=(m, dim))

    vecs = draw(n)
    corpus = Vectors(
        ids=np.arange(n, dtype=np.int64),
        vecs=vecs,
        docs=[f"item {i}" for i in range(n)],
    )
    return corpus, draw(n_queries)


def zipf_texts(seed: int, n: int, vocab: int = 20000, zipf_s: float = 1.1,
               min_words: int = 20, max_words: int = 60,
               dup_rate: float = 0.05, stream: int = 2) -> list[str]:
    """`n` texts of Zipf-distributed words; a `dup_rate` share are near
    duplicates of an earlier text (one word replaced).  `stream` selects
    an independent random stream, so base and batch texts differ."""
    rng = np.random.default_rng([seed, stream])
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    out: list[str] = []
    for i in range(n):
        if out and rng.random() < dup_rate:
            toks = out[int(rng.integers(0, len(out)))].split()
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, vocab))]
            out.append(" ".join(toks))
        else:
            m = int(rng.integers(min_words, max_words + 1))
            out.append(" ".join(words[rng.choice(vocab, size=m, p=p)]))
    return out


def text_bytes(texts: list[str]) -> int:
    return sum(len(t.encode()) for t in texts)


LANGS = ("en", "es", "de", "fr", "zh")


def fixture_corpus(seed: int, n: int, dup_rate: float = 0.05,
                   dim: int = DIM, id_base: int = 0, stream: int = 3):
    """Rows in the fixture layout (FIXTURES.md): documents (doc_id, text,
    lang, source, n_chars) and embeddings (vec_id, embedding float[dim],
    label) sharing ids `id_base .. id_base+n-1`.  A `dup_rate` share of
    rows are near duplicates of an earlier row, in text (one word
    replaced) and in vector (a small perturbation), so the lexical and
    semantic dedup families both find pairs.  Returns (docs, embs) as
    dicts of numpy columns."""
    rng = np.random.default_rng([seed, stream, id_base])
    # a flatter word distribution than the ingest texts: with frequent
    # words shared by most documents, MinHash bands collide for nearly
    # every pair and the lexical pair table becomes quadratic
    texts = zipf_texts(seed, n, zipf_s=0.7, dup_rate=dup_rate,
                       stream=stream * 1000 + id_base)
    vecs = rng.normal(size=(n, dim))
    for i in range(1, n):
        if rng.random() < dup_rate:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.01 * rng.normal(size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    docs = {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[int(i)] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{int(i) % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    embs = {
        "vec_id": ids,
        "embedding": vecs.astype(np.float32),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }
    return docs, embs


def fixture_input_bytes(docs: dict, embs: dict) -> int:
    return int(text_bytes(docs["text"]) + embs["embedding"].nbytes
               + 8 * len(docs["doc_id"]))


def write_fixture(sf_dir: str, docs: dict, embs: dict) -> None:
    """Write documents.parquet and embeddings.parquet into `sf_dir`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    }), f"{sf_dir}/documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(embs["vec_id"], pa.int64()),
        "embedding": pa.array(list(embs["embedding"]), pa.list_(pa.float32())),
        "label": pa.array(embs["label"], pa.int32()),
    }), f"{sf_dir}/embeddings.parquet")
