"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(seed, sizes)``: a Zipf-distributed
synthetic vocabulary, documents sampled from it, planted exact copies,
planted near-duplicate paraphrases, planted low-quality documents, a query
stream with a stated share of exact batch repeats, and crawl deltas.
Inputs are written as Parquet; the engine only ever reads those files. The
ground truth (which documents are planted copies) stays in memory for the
output checks.
"""

from __future__ import annotations

import functools
import os
import re
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the engine's tokenizer contract: ASCII-lowercase, split on [^a-z]+
_TOKEN_RE = re.compile(r"[^a-z]+")

# the Gopher gate's English stopwords sit at the head of the Zipf ranking,
# as they do in real English text
_HEAD = ("the", "of", "and", "to", "a", "in", "is", "it")
_ONSETS = ("b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t",
           "v", "w", "br", "st", "tr", "pl", "gr", "ch", "sh", "th", "qu")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
_CODAS = ("", "", "n", "r", "s", "t", "l", "nd", "st", "m")

VOCAB_SIZE = 20_000
ZIPF_S = 1.05
EMBED_DIM = 32
EMBED_BUCKETS = 2048


def tokens(text: str) -> list:
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def gopher_keep(text: str) -> bool:
    """Python twin of GopherQualityFilter's default rules, used only to
    make generated 'good' documents pass and planted 'bad' ones fail."""
    toks = tokens(text)
    n = len(toks)
    if not 24 <= n <= 100_000:
        return False
    mean = sum(map(len, toks)) / n
    punct = sum(text.count(c) for c in ".,;:!?") / max(len(text), 1)
    return 3.9 <= mean <= 5.1 and punct <= 0.1 and bool(set(toks) & set(_HEAD))


def embed(texts) -> np.ndarray:
    """The benchmark's deterministic embedding model: hashed bag of words
    (crc32 buckets) through a fixed Gaussian projection, L2-normalised.
    Runs unchanged in Spark's Python workers and in the numpy oracle."""
    proj = _projection()
    out = np.zeros((len(texts), EMBED_DIM))
    for i, t in enumerate(texts):
        ids = [zlib.crc32(w.encode()) % EMBED_BUCKETS for w in tokens(str(t))]
        if ids:
            v = proj[ids].sum(axis=0)
            out[i] = v / (np.linalg.norm(v) or 1.0)
    return out


@functools.lru_cache(maxsize=1)
def _projection() -> np.ndarray:
    return np.random.default_rng(7).standard_normal((EMBED_BUCKETS, EMBED_DIM))


class Vocab:
    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE, s: float = ZIPF_S):
        words, seen = list(_HEAD), set(_HEAD)
        while len(words) < size:
            n_syl = int(rng.integers(1, 4))
            w = "".join(
                _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
                for _ in range(n_syl)
            ) + _CODAS[rng.integers(len(_CODAS))]
            if 3 <= len(w) <= 10 and w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(words, dtype=object)
        p = 1.0 / np.arange(1, size + 1) ** s
        self.cdf = np.cumsum(p / p.sum())

    def sample(self, rng: np.random.Generator, n: int) -> list:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return list(self.words[np.minimum(idx, len(self.words) - 1)])


def _render(words: list) -> str:
    """Sentences of 8-16 words, capitalised, full stop at the end."""
    out, i, k = [], 0, 0
    while i < len(words):
        n = 8 + (k * 5) % 9
        sent = words[i:i + n]
        out.append(" ".join([sent[0].capitalize(), *sent[1:]]) + ".")
        i += n
        k += 1
    return " ".join(out)


def good_doc(rng, vocab: Vocab, lo: int = 40, hi: int = 110) -> str:
    while True:
        text = _render(vocab.sample(rng, int(rng.integers(lo, hi))))
        if gopher_keep(text):
            return text


def bad_doc(rng, vocab: Vocab) -> str:
    """Too short for the Gopher token-count rule."""
    return _render(vocab.sample(rng, int(rng.integers(6, 18))))


def paraphrase(rng, vocab: Vocab, text: str, share: float = 0.06) -> str:
    """Replace ``share`` of the words: word-3-shingle Jaccard to the
    original stays near 0.7, well above the 0.5 dedup threshold."""
    while True:
        words = tokens(text)
        n_sub = max(1, int(round(share * len(words))))
        pos = rng.choice(len(words), size=n_sub, replace=False)
        repl = vocab.sample(rng, n_sub)
        for p, w in zip(pos, repl):
            words[p] = w + "s" if w == words[p] else w
        out = _render(words)
        if gopher_keep(out) and out != text:
            return out


def write_docs(path: str, ids, texts, sources) -> str:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "source": pa.array(sources, pa.string()),
            }
        ),
        path,
    )
    return path


def write_queries(path: str, qids, texts) -> str:
    vecs = embed(texts)
    pq.write_table(
        pa.table(
            {
                "query_id": pa.array(qids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float64())),
            }
        ),
        path,
    )
    return path


@dataclass
class Corpus:
    """Generated documents plus their planted-duplicate ground truth."""

    ids: list = field(default_factory=list)
    texts: list = field(default_factory=list)
    sources: list = field(default_factory=list)
    kind: dict = field(default_factory=dict)  # doc_id -> unique|exact|near|lowq

    def add(self, doc_id: int, text: str, kind: str, n_sources: int = 4):
        self.ids.append(doc_id)
        self.texts.append(text)
        self.sources.append(f"src{doc_id % n_sources}")
        self.kind[doc_id] = kind


def plant_corpus(rng, vocab: Vocab, n_docs: int, exact_share: float, near_share: float,
                 lowq_share: float, first_id: int = 0) -> Corpus:
    """``n_docs`` documents: uniques first (lower ids, so keep-min dedup
    keeps the original), then planted exact copies, near-duplicate
    paraphrases and low-quality documents at the stated shares. Planted
    copies only copy uniques, so every duplicate group has one original."""
    n_exact = int(round(exact_share * n_docs))
    n_near = int(round(near_share * n_docs))
    n_lowq = int(round(lowq_share * n_docs))
    n_unique = n_docs - n_exact - n_near - n_lowq
    c = Corpus()
    for i in range(n_unique):
        c.add(first_id + i, good_doc(rng, vocab), "unique")
    uniq = list(c.ids)
    nxt = first_id + n_unique
    for _ in range(n_exact):
        o = int(rng.choice(uniq))
        c.add(nxt, c.texts[o - first_id], "exact")
        nxt += 1
    # near-dups paraphrase distinct originals: a cluster is one original
    # plus one paraphrase, so keep-min survival is unambiguous
    for o in rng.choice(uniq, size=n_near, replace=False):
        c.add(nxt, paraphrase(rng, vocab, c.texts[int(o) - first_id]), "near")
        nxt += 1
    for _ in range(n_lowq):
        c.add(nxt, bad_doc(rng, vocab), "lowq")
        nxt += 1
    return c


def query_texts(rng, vocab: Vocab, n: int) -> list:
    """2-4 Zipf-sampled terms per query, skipping the stopword head so
    every query term is selective."""
    out = []
    for _ in range(n):
        words, n_terms = [], int(rng.integers(2, 5))
        while len(words) < n_terms:
            w = vocab.sample(rng, 1)[0]
            if w not in _HEAD and w not in words:
                words.append(w)
        out.append(" ".join(words))
    return out


def query_stream(rng, vocab: Vocab, workdir: str, n_batches: int, batch_size: int,
                 repeat_share: float, first_qid: int = 0, prefix: str = "queries") -> list:
    """``n_batches`` batch files in stream order. Exactly ``repeat_share``
    of the batches (evenly spaced) repeat an earlier batch, chosen at
    random: the same file, so the same content fingerprint."""
    paths, fresh, qid = [], [], first_qid
    for b in range(n_batches):
        if fresh and int((b + 1) * repeat_share) > int(b * repeat_share):
            paths.append(fresh[int(rng.integers(len(fresh)))])
            continue
        texts = query_texts(rng, vocab, batch_size)
        p = write_queries(os.path.join(workdir, f"{prefix}_{b:04d}.parquet"),
                          list(range(qid, qid + batch_size)), texts)
        qid += batch_size
        fresh.append(p)
        paths.append(p)
    return paths
