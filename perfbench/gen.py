"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from a seed, in the
repository's existing table schemas:

* ``documents``: ``doc_id int64, text string``.  Terms follow a Zipf law
  (s = 1.1) over a synthetic vocabulary of pronounceable words, document
  lengths are log-normal (median 150 tokens), and a share of documents are
  edited near-copies of another document (about 2% of token positions
  replaced).  The generator returns the injected (source, copy) pairs with
  their exact token-set Jaccard, which is the dedup ground truth.
* ``embeddings``: ``vec_id int64, embedding array<float>, label int32``.
  Vectors are drawn around cluster centres, and a share are near-copies of
  another vector (tiny isotropic noise); the injected pairs are returned.

Pure numpy + pyarrow, single-threaded, so the same seed gives byte-identical
parquet files (``file_sha256`` checks this).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 100_000
ZIPF_S = 1.1
MEDIAN_LEN = 150
LEN_SIGMA = 0.6
MIN_LEN, MAX_LEN = 20, 1200
EDIT_SHARE = 0.02
DIM = 64

_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "st")
_VOWELS = ("a", "e", "i", "o", "u")
_SYLLABLES = tuple(o + v for o in _ONSETS for v in _VOWELS)  # 100


def vocabulary(size: int = VOCAB_SIZE) -> np.ndarray:
    """Distinct lowercase ASCII words, rank 0 first; the same on every seed.

    Word ``r`` spells ``r + 100`` in base 100 with one syllable per digit,
    so ranks 0..9899 have two syllables and the tail has three."""
    words = []
    for r in range(size):
        n, parts = r + len(_SYLLABLES), []
        while n:
            n, d = divmod(n, len(_SYLLABLES))
            parts.append(_SYLLABLES[d])
        words.append("".join(reversed(parts)))
    return np.array(words, dtype=object)


def zipf_cdf(size: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0
    return cdf


def draw_terms(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    """``n`` Zipf-distributed term ranks."""
    return np.searchsorted(cdf, rng.random(n), side="right")


@dataclass
class Corpus:
    """Generated documents: ids, token-rank arrays and ground truth."""
    doc_ids: np.ndarray                 # int64
    tokens: list                        # one int array of term ranks per doc
    pairs: list = field(default_factory=list)  # (id_a < id_b, jaccard)

    def texts(self, vocab: np.ndarray) -> list[str]:
        return [" ".join(vocab[t]) for t in self.tokens]


def lognormal_lengths(n: int) -> np.ndarray:
    """``n`` document lengths at evenly spaced quantiles of the log-normal,
    so that every seed has the same lengths (and the same total work) and
    only their order and their terms vary."""
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    return np.clip(np.rint(MEDIAN_LEN * np.exp(LEN_SIGMA * z)),
                   MIN_LEN, MAX_LEN).astype(int)


def make_documents(seed: int, n_docs: int, dup_share: float = 0.05,
                   id_base: int = 0, cdf: np.ndarray | None = None) -> Corpus:
    """``n_docs`` documents, of which ``round(n_docs * dup_share)`` are
    edited near-copies of other documents.  Ids are ``id_base + 0..n-1`` in
    shuffled order, so copies do not sit beside their sources."""
    rng = np.random.default_rng([seed, id_base, 1])
    cdf = zipf_cdf() if cdf is None else cdf
    n_dup = int(round(n_docs * dup_share))
    n_orig = n_docs - n_dup
    lens = lognormal_lengths(n_orig)
    rng.shuffle(lens)
    flat = draw_terms(rng, cdf, int(lens.sum()))
    tokens = np.split(flat, np.cumsum(lens)[:-1])
    sources = rng.choice(n_orig, size=n_dup, replace=False)
    for src in sources:
        copy = tokens[src].copy()
        k = max(1, int(round(len(copy) * EDIT_SHARE)))
        at = rng.choice(len(copy), size=k, replace=False)
        copy[at] = draw_terms(rng, cdf, k)
        tokens.append(copy)
    ids = id_base + rng.permutation(n_docs).astype(np.int64)
    pairs = []
    for j, src in enumerate(sources):
        a, b = int(ids[src]), int(ids[n_orig + j])
        pairs.append((min(a, b), max(a, b),
                      jaccard(tokens[src], tokens[n_orig + j])))
    order = np.argsort(ids, kind="stable")
    return Corpus(ids[order], [tokens[i] for i in order], pairs)


def jaccard(a, b) -> float:
    sa, sb = set(np.asarray(a).tolist()), set(np.asarray(b).tolist())
    return len(sa & sb) / len(sa | sb)


def documents_table(corpus: Corpus, vocab: np.ndarray) -> pa.Table:
    return pa.table({"doc_id": pa.array(corpus.doc_ids, pa.int64()),
                     "text": pa.array(corpus.texts(vocab), pa.string())})


@dataclass
class Vectors:
    vec_ids: np.ndarray
    matrix: np.ndarray                  # float32 (n, DIM)
    labels: np.ndarray                  # int32 cluster id
    pairs: list = field(default_factory=list)  # (id_a < id_b, cosine)


def make_embeddings(seed: int, n_vecs: int, n_clusters: int = 64,
                    dup_share: float = 0.05, copy_noise: float = 0.02) -> Vectors:
    """Clustered 64-d vectors.  Centres are standard normal and members sit
    at unit noise around them, so two members of one cluster have cosine
    near 0.5; a near-copy adds ``copy_noise`` per dimension, which keeps its
    cosine to the source above 0.999."""
    rng = np.random.default_rng([seed, 2])
    n_dup = int(round(n_vecs * dup_share))
    n_orig = n_vecs - n_dup
    centres = rng.standard_normal((n_clusters, DIM))
    labels = rng.integers(0, n_clusters, n_orig)
    base = centres[labels] + rng.standard_normal((n_orig, DIM))
    sources = rng.choice(n_orig, size=n_dup, replace=False)
    copies = base[sources] + copy_noise * rng.standard_normal((n_dup, DIM))
    mat = np.vstack([base, copies]).astype(np.float32)
    labels = np.concatenate([labels, labels[sources]]).astype(np.int32)
    ids = rng.permutation(n_vecs).astype(np.int64)
    pairs = []
    for j, src in enumerate(sources):
        a, b = int(ids[src]), int(ids[n_orig + j])
        pairs.append((min(a, b), max(a, b), cosine(mat[src], mat[n_orig + j])))
    order = np.argsort(ids, kind="stable")
    return Vectors(ids[order], mat[order], labels[order], pairs)


def cosine(a, b) -> float:
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return float(a @ b / np.sqrt((a @ a) * (b @ b)))


def embeddings_table(vecs: Vectors) -> pa.Table:
    flat = pa.array(vecs.matrix.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, DIM, dtype=np.int32)), flat)
    return pa.table({"vec_id": pa.array(vecs.vec_ids, pa.int64()),
                     "embedding": emb,
                     "label": pa.array(vecs.labels, pa.int32())})


def write_parquet(table: pa.Table, path: str) -> None:
    """One parquet file, fixed writer options (no statistics drift)."""
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def make_queries(seed: int, corpus: Corpus, n: int, vocab: np.ndarray,
                 max_terms: int = 4) -> list[str]:
    """Free-text queries of distinct terms, each term drawn by its corpus
    frequency, so head and tail postings lists are both hit.  Query ``i``
    has ``i % max_terms + 1`` terms, so any run of consecutive queries has
    the same mix of lengths whatever the seed."""
    rng = np.random.default_rng([seed, 3])
    flat = np.concatenate(corpus.tokens)
    out = []
    for i in range(n):
        k = i % max_terms + 1
        terms: list[int] = []
        while len(terms) < k:
            t = int(flat[rng.integers(0, len(flat))])
            if t not in terms:
                terms.append(t)
        out.append(" ".join(vocab[terms]))
    return out
