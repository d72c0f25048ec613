"""Seeded input generator for the benchmark.

Everything the engine sees is derived from one integer seed through
numpy's PCG64, so the same seed gives byte-identical inputs:

- ``corpus``: a Zipfian corpus whose first ranks are planted stopwords
  (near-universal terms, so the hot-term posting skew is present). Raw
  tokens carry capitals, punctuation and digits that the engine's
  normalizer must strip; a few tokens normalize to nothing.
- ``query_stream``: single-term lookups, two-term ANDs and BM25
  queries. Terms are drawn df-weighted (hot terms repeat), uniformly
  among rare terms (cold), or are absent.
- ``ingest_batch``: a batch of new documents holding planted exact and
  near-duplicates of corpus documents, with the ids of those planted
  as the ground truth.

The module also holds the pure-Python oracles the benchmark checks the
engine against (normalization, postings, letter-file bytes, BM25).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyz"
STOPWORDS = ("the", "of", "and", "to")
_NON_ALPHA = re.compile(r"[^A-Za-z]")

# Stream ids keep the generators of the corpus, the query stream and the
# ingest batches independent: a change to one never shifts the others.
_CORPUS, _QUERIES, _INGEST = 1, 2, 3


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int
    min_len: int
    max_len: int
    zipf_s: float = 1.0
    n_files: int = 8


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, stream, *extra])))


def make_vocab(seed: int, n: int) -> list[str]:
    """Rank-ordered vocabulary: the planted stopwords first, then
    distinct random ``[a-z]{3,9}`` words."""
    rng = _rng(seed, _CORPUS, 0)
    seen = set(STOPWORDS)
    words = list(STOPWORDS)
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        chars = rng.integers(0, 26, size=(n, 9))
        for length, row in zip(lens, chars):
            w = "".join(LETTERS[c] for c in row[:length])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0
    return cdf


def _decorate(rng: np.random.Generator, words: list[str]) -> list[str]:
    """Raw-token noise the normalizer must undo: capitals, trailing
    punctuation, an embedded digit, and pure-noise tokens."""
    kinds = rng.integers(0, 100, size=len(words))
    out = []
    for w, k in zip(words, kinds):
        if k < 8:
            w = w.capitalize()
        elif k < 12:
            w = w + ","
        elif k < 14:
            w = w[:1] + "7" + w[1:]
        elif k < 15:
            w = w.upper() + "."
        out.append(w)
        if k == 99:
            out.append("--")
    return out


def _zipf_doc(rng, vocab, cdf, min_len, max_len) -> str:
    n = int(rng.integers(min_len, max_len + 1))
    ids = np.searchsorted(cdf, rng.random(n), side="right")
    return " ".join(_decorate(rng, [vocab[i] for i in ids]))


def corpus(seed: int, spec: CorpusSpec) -> list[str]:
    """The documents' texts; doc ids are the list positions."""
    vocab = make_vocab(seed, spec.vocab)
    cdf = _zipf_cdf(spec.vocab, spec.zipf_s)
    rng = _rng(seed, _CORPUS, 1)
    return [_zipf_doc(rng, vocab, cdf, spec.min_len, spec.max_len) for _ in range(spec.n_docs)]


def write_docs(path: str, doc_ids, texts, n_files: int = 1) -> None:
    """Write (doc_id, text) as ``n_files`` parquet part files under
    ``path`` — several files so the scan has several splits."""
    os.makedirs(path, exist_ok=True)
    ids = list(doc_ids)
    per = math.ceil(len(ids) / n_files) if ids else 0
    for f in range(n_files):
        lo, hi = f * per, min(len(ids), (f + 1) * per)
        if lo >= hi:
            break
        table = pa.table(
            {
                "doc_id": pa.array(ids[lo:hi], pa.int64()),
                "text": pa.array(texts[lo:hi], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"), compression="snappy")


# -- query stream -----------------------------------------------------------


@dataclass(frozen=True)
class Query:
    kind: str  # "lookup" | "and" | "bm25"
    terms: tuple[str, ...]


TERMS_PER_QUERY = {"lookup": 1, "and": 2, "bm25": 3}
_GOLDEN = 0.6180339887498949


def query_stream(
    seed: int,
    postings: dict[str, list[int]],
    n: int,
    absent_share: float = 0.1,
    cold_share: float = 0.2,
) -> dict[str, list[Query]]:
    """``n`` queries of each kind. A term is absent (an ``[a-z]`` word
    no document contains) with ``absent_share``, a uniformly drawn rare
    term (df <= 2) with ``cold_share``, else a df-weighted draw, so hot
    terms repeat. The class of successive terms follows a golden-ratio
    sequence from a seeded start rather than independent draws, so any
    run of consecutive queries holds each class close to its share and
    the mix a run measures does not drift between seeds."""
    rng = _rng(seed, _QUERIES)
    terms = sorted(postings)
    df = np.array([len(postings[t]) for t in terms], dtype=np.float64)
    hot_p = df / df.sum()
    rare = [t for t in terms if len(postings[t]) <= 2] or terms

    def draw(u: float) -> str:
        if u < absent_share:
            while True:
                w = "q" + "".join(LETTERS[c] for c in rng.integers(0, 26, size=7))
                if w not in postings:
                    return w
        if u < absent_share + cold_share:
            return rare[int(rng.integers(0, len(rare)))]
        return terms[int(rng.choice(len(terms), p=hot_p))]

    out = {}
    for kind, n_terms in TERMS_PER_QUERY.items():
        u = rng.random()
        queries = []
        for _ in range(n):
            picked = []
            for _ in range(n_terms):
                u = (u + _GOLDEN) % 1.0
                picked.append(draw(u))
            queries.append(Query(kind, tuple(picked)))
        out[kind] = queries
    return out


# -- ingest batches ---------------------------------------------------------


@dataclass(frozen=True)
class Batch:
    doc_ids: list[int]
    texts: list[str]
    exact: frozenset[int]  # ids of the planted exact copies
    near: frozenset[int]  # ids of the planted near-copies


def ingest_batch(seed: int, number: int, spec: CorpusSpec, texts: list[str], size: int = 40) -> Batch:
    """Batch ``number`` of new documents, ids after the corpus and the
    earlier batches. A quarter are exact copies of distinct documents of
    ``texts`` (the corpus, or the part of it the dedup state holds) and
    a quarter near-copies (one token replaced by a word
    the corpus cannot hold, which leaves about 85 % of a document's
    3-shingles shared); the rest are fresh documents from the corpus's
    distribution."""
    rng = _rng(seed, _INGEST, number)
    vocab = make_vocab(seed, spec.vocab)
    cdf = _zipf_cdf(spec.vocab, spec.zipf_s)
    n_dup = size // 4
    sources = rng.choice(len(texts), size=2 * n_dup, replace=False)
    out = [texts[int(s)] for s in sources[:n_dup]]
    for s in sources[n_dup:]:
        toks = texts[int(s)].split()
        toks[int(rng.integers(0, len(toks)))] = "zz" + "".join(LETTERS[c] for c in rng.integers(0, 26, size=8))
        out.append(" ".join(toks))
    while len(out) < size:
        out.append(_zipf_doc(rng, vocab, cdf, spec.min_len, spec.max_len))
    first = spec.n_docs + number * size
    order = rng.permutation(size)  # planted documents land anywhere in the batch
    ids = [first + int(i) for i in order]
    return Batch(ids, out, frozenset(ids[:n_dup]), frozenset(ids[n_dup : 2 * n_dup]))


# -- oracles ----------------------------------------------------------------


def normalized_terms(text: str) -> list[str]:
    """The engine's tokenizer + normalizer: whitespace split, strip
    non-letters inside the token, lowercase, drop empties."""
    out = []
    for tok in text.split():
        t = _NON_ALPHA.sub("", tok).lower()
        if t:
            out.append(t)
    return out


def build_postings_py(doc_ids, texts) -> dict[str, list[int]]:
    """term -> ascending distinct doc ids."""
    post: dict[str, set[int]] = {}
    for d, text in zip(doc_ids, texts):
        for t in set(normalized_terms(text)):
            post.setdefault(t, set()).add(d)
    return {t: sorted(ids) for t, ids in post.items()}


def letter_digests(postings: dict[str, list[int]]) -> dict[str, str]:
    """sha256 of each letter file's expected bytes: lines
    ``term:[id1 id2 …]`` ordered (df DESC, term ASC)."""
    by_letter: dict[str, list[str]] = {c: [] for c in LETTERS}
    for t in postings:
        by_letter[t[0]].append(t)
    out = {}
    for c, ts in by_letter.items():
        ts.sort(key=lambda t: (-len(postings[t]), t))
        body = "".join(f"{t}:[{' '.join(map(str, postings[t]))}]\n" for t in ts)
        out[c] = hashlib.sha256(body.encode()).hexdigest()
    return out


class Bm25Oracle:
    """numpy BM25 over the same integer counts the engine derives:
    dl = normalized tokens per doc, tf = occurrences of the query term,
    scores summed in query-term order and rounded to 6 decimals."""

    def __init__(self, doc_ids, texts, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.n_docs = len(doc_ids)
        self.ids = np.asarray(doc_ids, dtype=np.int64)
        self.tf: dict[str, dict[int, int]] = {}
        dl = np.zeros(len(doc_ids), dtype=np.float64)
        for i, text in enumerate(texts):
            terms = normalized_terms(text)
            dl[i] = len(terms)
            for t, c in Counter(terms).items():
                self.tf.setdefault(t, {})[i] = c
        self.dl = dl
        has_tokens = dl > 0
        self.avgdl = float(dl[has_tokens].sum()) / float(has_tokens.sum())

    def topk(self, terms, k: int = 10) -> list[tuple[int, float]]:
        n = len(self.ids)
        score = np.zeros(n)
        hit = np.zeros(n, dtype=bool)
        norm = self.k1 * (1.0 - self.b + self.b * self.dl / self.avgdl)
        for t in terms:
            tf = np.zeros(n)
            for i, c in self.tf.get(t, {}).items():
                tf[i] = c
            df = float((tf > 0).sum())
            idf = math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)
            score = score + idf * tf * (self.k1 + 1.0) / (tf + norm)
            hit |= tf > 0
        idx = np.nonzero(hit)[0]
        rounded = np.round(score[idx], 6)
        order = sorted(range(len(idx)), key=lambda j: (-rounded[j], self.ids[idx[j]]))
        return [(int(self.ids[idx[j]]), float(rounded[j])) for j in order[:k]]
