"""Seeded workload generator: corpora, append batches and query streams.

Every input the engine sees is made here from ``(workload, seed)``; the
same pair gives byte-identical inputs. Words are lowercase ASCII letters
shorter than 40 bytes, so ``text.split()`` is exactly the engine's default
tokenization (``run.py`` asserts this on a sample before measuring).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

#: The 30 uniform words of the driver fixture ``documents.parquet``
#: (sf0.1: 5,000 docs, ~300 chars/doc); ``dup`` is its 31st, rare word.
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
FIXTURE_RARE = "dup"
LANGS = ("en", "fr", "es", "zh", "de")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts the values another stream draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


@dataclass
class Corpus:
    """A generated corpus in the engine's canonical shape (plus the
    engine doc ids and ``n_chars``), and its sizes for the report."""

    docs: pd.DataFrame  # doc_id, repo, path, commit, lang, content, n_chars
    sizes: dict = field(default_factory=dict)

    @property
    def content_bytes(self) -> int:
        return int(self.docs["content"].str.len().sum())  # ASCII: chars == bytes


def _frame(texts: list[str], repo, path, lang, doc_id0: int = 0) -> pd.DataFrame:
    n = len(texts)
    ids = np.arange(doc_id0, doc_id0 + n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "repo": repo,
        "path": path,
        "commit": [hashlib.sha1(f"c{i}".encode()).hexdigest() for i in ids],
        "lang": lang,
        "content": texts,
        "n_chars": np.fromiter((len(t) for t in texts), dtype=np.int64, count=n),
    })


def _join_words(vocab: np.ndarray, word_ids: np.ndarray, lens: np.ndarray) -> list[str]:
    words = vocab[word_ids]
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(words[offs[i]:offs[i + 1]]) for i in range(len(lens))]


def fixture_corpus(seed: int, n_docs: int = 5000) -> Corpus:
    """Stand-in for the driver fixture: uniform 30-word vocabulary, 8-100
    tokens/doc (44-577 chars), ``dup`` in ~5% of docs, 20 repos, 5 langs
    with ``en`` at ~41%."""
    rng = rng_for(seed, "fixture.corpus")
    vocab = np.array(FIXTURE_WORDS)
    lens = rng.integers(8, 101, size=n_docs)
    texts = _join_words(vocab, rng.integers(0, len(vocab), size=lens.sum()), lens)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        toks = texts[i].split()
        toks[rng.integers(0, len(toks))] = FIXTURE_RARE
        texts[i] = " ".join(toks)
    lang = rng.choice(LANGS, size=n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    ids = np.arange(n_docs)
    docs = _frame(
        texts,
        repo=[f"src{i % 20}" for i in ids],
        path=[f"doc/{i}" for i in ids],
        lang=lang,
    )
    return Corpus(docs, {"docs": n_docs, "vocab": len(vocab) + 1,
                         "tokens": int(lens.sum())})


def zipf_vocab(seed: int, size: int) -> np.ndarray:
    """``size`` distinct letters-only words (2-12 letters), in rank order."""
    rng = rng_for(seed, "zipf.vocab")
    out: dict[str, None] = {}
    while len(out) < size:
        lens = rng.integers(2, 13, size=size)
        chars = (rng.integers(0, 26, size=int(lens.sum())) + 97).astype(np.uint8)
        flat = chars.tobytes().decode("ascii")
        offs = np.concatenate([[0], np.cumsum(lens)])
        for i in range(size):
            out.setdefault(flat[offs[i]:offs[i + 1]], None)
            if len(out) == size:
                break
    return np.array(list(out))


def zipf_probs(size: int, s: float = 1.0) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def zipf_corpus(
    seed: int, n_docs: int, stream: str = "zipf.corpus", vocab_size: int = 20000,
    doc_id0: int = 0, markers: list[str] | None = None,
) -> Corpus:
    """Zipf(s=1) words over a ``vocab_size`` vocabulary, lognormal doc
    lengths (median 65 tokens), facets repo (50, Zipf-skewed), lang (5),
    a 2-level path and n_chars. ``markers``: words put once into every
    doc (append batches carry a marker unique to the batch)."""
    vocab = zipf_vocab(seed, vocab_size)
    rng = rng_for(seed, stream)
    lens = np.clip(rng.lognormal(np.log(65), 0.6, size=n_docs), 1, 2000).astype(np.int64)
    words = rng.choice(vocab_size, size=int(lens.sum()), p=zipf_probs(vocab_size))
    texts = _join_words(vocab, words, lens)
    if markers:
        tail = " " + " ".join(markers)
        texts = [t + tail for t in texts]
    repo_idx = rng.choice(50, size=n_docs, p=zipf_probs(50, 0.8))
    d1 = rng.integers(0, 8, size=n_docs)
    d2 = rng.integers(0, 6, size=n_docs)
    ids = np.arange(doc_id0, doc_id0 + n_docs)
    docs = _frame(
        texts,
        repo=[f"repo{r:02d}" for r in repo_idx],
        path=[f"/{stream}/d{a}/s{b}/f{i}" for a, b, i in zip(d1, d2, ids)],
        lang=rng.choice(LANGS, size=n_docs, p=[0.5, 0.2, 0.1, 0.1, 0.1]),
        doc_id0=doc_id0,
    )
    return Corpus(docs, {"docs": n_docs, "vocab": vocab_size,
                         "tokens": int(lens.sum()) + n_docs * len(markers or ())})


def marker_word(seed: int, batch: int) -> str:
    """A letters-only word no generated vocabulary word can equal (vocab
    words are at most 12 letters; markers are 16)."""
    rng = rng_for(seed, f"ingest.marker.{batch}")
    return "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=16))


# --------------------------------------------------------------- queries ---


class TermSampler:
    """Draws query terms by corpus popularity, stratified by rank band.

    The j-th draw of every seed comes from the same band of popularity
    ranks (1, 2-10, 11-100, 101-1000, the rest; in turn), chosen within
    the band in proportion to corpus frequency. Frequent terms still
    repeat across queries, while the per-op work stays comparable from
    seed to seed, so a few samples per run suffice for a median."""

    BAND_EDGES = (1, 10, 100, 1000)

    def __init__(self, corpus: Corpus, rng: np.random.Generator):
        self.rng = rng
        self.texts = corpus.docs["content"].to_numpy()
        counts = Counter(w for t in self.texts for w in t.split())
        ranked = sorted(counts, key=lambda w: (-counts[w], w))
        edges = [0] + [e for e in self.BAND_EDGES if e < len(ranked)] + [len(ranked)]
        self.bands = []
        for lo, hi in zip(edges, edges[1:]):
            words = ranked[lo:hi]
            freq = np.array([counts[w] for w in words], dtype=np.float64)
            self.bands.append((words, freq / freq.sum()))
        self.draws = 0

    def term(self) -> str:
        words, p = self.bands[self.draws % len(self.bands)]
        self.draws += 1
        return words[self.rng.choice(len(words), p=p)]

    def distinct(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self.term()
            if t not in out:
                out.append(t)
        return out

    def bigram(self) -> tuple[str, str]:
        """A random adjacent word pair of a random doc: phrases are drawn
        by their own popularity."""
        toks = self.texts[self.rng.integers(0, len(self.texts))].split()
        while len(toks) < 2:
            toks = self.texts[self.rng.integers(0, len(self.texts))].split()
        i = self.rng.integers(0, len(toks) - 1)
        return toks[i], toks[i + 1]


def search_query(s: TermSampler, template: int) -> str:
    """Template 0-3: term / OR of 2-3 terms / must / must_not."""
    kind = template % 4
    if kind == 0:
        return s.term()
    if kind == 1:
        return " ".join(s.distinct(int(s.rng.integers(2, 4))))
    if kind == 2:
        a, b = s.distinct(2)
        return f"+{a} {b}"
    a, b, c = s.distinct(3)
    return f"{a} {b} -{c}"


def phrase_query(s: TermSampler) -> str:
    a, b = s.bigram()
    return f'"{a} {b}"'


@dataclass
class Op:
    op_id: int
    kind: str  # search | phrase | facet | batch
    query: str | None = None
    batch: dict[str, str] | None = None


def op_stream(corpus: Corpus, seed: int, stream: str, cycle: str, batch_size: int):
    """Endless generator of the closed loop's ops. ``cycle`` is one round
    of op kinds (s=search, p=phrase, f=facet, b=batch) whose letter counts
    are the workload's shares. Kinds and query templates repeat in a fixed
    order and only the terms are drawn from the seed, so every seed runs
    the same mix in the same order."""
    rng = rng_for(seed, stream)
    s = TermSampler(corpus, rng)
    kinds = {"s": "search", "p": "phrase", "f": "facet", "b": "batch"}
    per_kind: dict[str, int] = {}
    i = 0
    while True:
        kind = kinds[cycle[i % len(cycle)]]
        n = per_kind[kind] = per_kind.get(kind, -1) + 1
        if kind == "phrase":
            yield Op(i, kind, query=phrase_query(s))
        elif kind == "batch":
            yield Op(i, kind, batch={f"q{i}_{j}": search_query(s, j) for j in range(batch_size)})
        else:
            yield Op(i, kind, query=search_query(s, n))
        i += 1
