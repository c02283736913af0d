"""Seeded input generator for the RagPipeline benchmark.

Everything here is pure Python/NumPy: it runs before the set-up clock
starts and needs no Spark session. It also holds the text model the
correctness oracle shares with the generator: the fixed-window chunker,
Spark ML's ``Tokenizer`` split rule and ``HashingTF``'s term hash, so the
expected index can be computed without the program.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 64  # RagPipeline's default embedding dimension
VOCAB_SIZE = 4000
ZIPF_S = 1.1
STOP_RANKS = 40  # the most frequent words act as stop words; queries skip them
FRESH_WORDS = ("latest", "current", "news")  # route()'s web-search triggers
CHUNK_SIZE, CHUNK_OVERLAP = 1000, 200  # operators.text fixed windows
STRIDE = CHUNK_SIZE - CHUNK_OVERLAP

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_32(data: bytes, seed: int = 42) -> int:
    """Signed murmur3_x86_32, the hash ``pyspark.ml.feature.HashingTF``
    applies to each term's UTF-8 bytes (seed 42)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (_rotl((k * c1) & _M32, 15) * c2) & _M32
        h = (_rotl(h ^ k, 13) * 5 + 0xE6546B64) & _M32
    k = 0
    for shift, b in enumerate(data[n - n % 4:]):
        k ^= b << (8 * shift)
    h ^= (_rotl((k * c1) & _M32, 15) * c2) & _M32
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def tokenize(text: str) -> list[str]:
    """Spark ML ``Tokenizer``: lower-case, Java ``split("\\s")``, which
    keeps leading empty tokens and drops trailing ones. Inputs here hold
    single spaces only."""
    toks = text.lower().split(" ")
    while toks and toks[-1] == "":
        toks.pop()
    return toks


class TermHasher:
    """Term -> HashingTF bucket, memoised (a corpus repeats its terms)."""

    def __init__(self, dim: int = DIM):
        self.dim = dim
        self._memo: dict[str, int] = {}

    def bucket(self, term: str) -> int:
        b = self._memo.get(term)
        if b is None:
            b = murmur3_32(term.encode("utf-8")) % self.dim  # Python % is non-negative
            self._memo[term] = b
        return b

    def tf(self, text: str) -> np.ndarray:
        v = np.zeros(self.dim)
        for t in tokenize(text):
            v[self.bucket(t)] += 1.0
        return v


def chunk_text(text: str) -> list[tuple[int, str]]:
    """``operators.text.chunk_documents``: windows start at 0, 800, ...
    while start <= len - 201; returns ``(chunk_no, page_content)``."""
    last = max(len(text) - (CHUNK_OVERLAP + 1), 0)
    return [(s // STRIDE, text[s:s + CHUNK_SIZE]) for s in range(0, last + 1, STRIDE)]


@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]


@dataclass
class Inputs:
    corpus: Corpus
    queries: list[str]
    expected: tuple  # expected_index(corpus)


class Generator:
    """Zipf vocabulary of random lower-case words; document lengths are
    lognormal in characters."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < VOCAB_SIZE:
            w = "".join(self.rng.choice(letters, size=int(self.rng.integers(3, 10))))
            if w not in seen and w not in FRESH_WORDS:
                seen.add(w)
                words.append(w)
        self.vocab = np.array(words)
        p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
        self.p = p / p.sum()
        mean_len = float((np.char.str_len(self.vocab) * self.p).sum()) + 1.0
        self.chars_per_word = mean_len

    def _text(self, n_chars: float, max_chars: int | None) -> str:
        n = max(2, int(round(n_chars / self.chars_per_word)))
        text = " ".join(self.vocab[self.rng.choice(VOCAB_SIZE, size=n, p=self.p)])
        if max_chars is not None and len(text) > max_chars:
            text = text[: text.rfind(" ", 0, max_chars + 1)]
        return text

    def corpus(self, n_docs: int, mean_chars: float, sigma: float,
               max_chars: int | None = None) -> Corpus:
        lengths = self.rng.lognormal(0.0, sigma, size=n_docs)
        # scaled to a fixed total, so every seed gives the same corpus size
        lengths *= n_docs * mean_chars / lengths.sum()
        return Corpus(
            doc_ids=np.arange(n_docs, dtype=np.int64),
            texts=[self._text(n, max_chars) for n in lengths],
        )

    def queries(self, n: int, idf: np.ndarray, hasher: TermHasher) -> list[str]:
        """``n`` distinct queries of 2-8 content words; about one in four
        carries a freshness word so every route() branch is taken.

        A query whose TF-IDF vector is all zero (every term in a bucket
        with idf 0) makes the program's cosine divide 0 by 0, which
        raises under ANSI mode; such draws are replaced, so the workloads
        measure ordinary queries only."""
        content = self.p[STOP_RANKS:] / self.p[STOP_RANKS:].sum()
        out: list[str] = []
        seen: set[str] = set()
        while len(out) < n:
            k = int(self.rng.integers(2, 9))
            words = list(self.vocab[STOP_RANKS + self.rng.choice(
                VOCAB_SIZE - STOP_RANKS, size=k, p=content)])
            if self.rng.random() < 0.25:
                words.insert(int(self.rng.integers(0, k + 1)),
                             FRESH_WORDS[int(self.rng.integers(0, 3))])
            q = " ".join(words)
            if q in seen or not np.any(hasher.tf(q) * idf):
                continue
            seen.add(q)
            out.append(q)
        return out


def expected_index(corpus: Corpus, hasher: TermHasher):
    """The index ``RagPipeline.ingest`` should write for ``corpus``:
    chunk ids, chunk texts, TF-IDF embeddings and the idf vector
    (Spark ML IDF: log((m + 1) / (df + 1)))."""
    ids, texts, tfs = [], [], []
    for doc_id, text in zip(corpus.doc_ids.tolist(), corpus.texts):
        for chunk_no, content in chunk_text(text):
            ids.append(doc_id * 1_000_000 + chunk_no)
            texts.append(content)
            tfs.append(hasher.tf(content))
    tf = np.array(tfs)
    df = (tf > 0).sum(axis=0)
    idf = np.log((len(tf) + 1.0) / (df + 1.0))
    return np.array(ids, dtype=np.int64), texts, tf * idf, idf


def make_inputs(workload: str, seed: int, n_queries: int) -> Inputs:
    """``ingest``: multi-chunk docs (mean ~2.7 KB). ``chat``: one-chunk
    docs (at most 1000 chars) for the read index. Both get a query pool
    drawn against their own index's idf."""
    gen = Generator(seed)
    hasher = TermHasher()
    if workload == "ingest":
        corpus = gen.corpus(300, 2700.0, 0.5)
    else:
        corpus = gen.corpus(2000, 500.0, 0.3, max_chars=CHUNK_SIZE)
    expected = expected_index(corpus, hasher)
    return Inputs(corpus, gen.queries(n_queries, expected[3], hasher), expected)
