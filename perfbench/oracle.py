"""Independent answers for every benchmark op.

Like ``tests/reference_impl.py``, this imports nothing of the engine's
scoring pipeline, only the fieldnorm table (which is spec, not pipeline).
It re-tokenizes the generated text with ``str.split`` and computes:

- BM25 (k1=1.2, b=0.75, quantized doc length, exact average length) with
  must / should / must_not semantics;
- exact two-word phrases: tf = number of matching anchors, idf = summed
  idf of the phrase terms;
- facet counts and stats with pandas.

Top-k lists are compared by (score desc, doc_id asc) with a score
tolerance; ties that straddle rank k are compared as sets.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from sparktext.fieldnorm import quantize

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6
_PHRASE = re.compile(r'"([^"]*)"')


def parse(qstr: str) -> dict:
    """The benchmark's query templates: bare words (should), ``+w``
    (must), ``-w`` (must_not) and quoted phrases."""
    out = {"should": [], "must": [], "must_not": [], "phrases": []}
    out["phrases"] = [p.split() for p in _PHRASE.findall(qstr) if p.split()]
    for w in _PHRASE.sub(" ", qstr).split():
        if w.startswith("+"):
            out["must"].append(w[1:])
        elif w.startswith("-"):
            out["must_not"].append(w[1:])
        else:
            out["should"].append(w)
    return out


class Oracle:
    """Term -> (doc positions, BM25 partials) over one corpus snapshot.

    ``docs`` needs ``doc_id`` (the engine's ids), ``content`` and the
    facet columns ``lang``, ``repo``, ``n_chars``."""

    def __init__(self, docs: pd.DataFrame):
        self.doc_ids = docs["doc_id"].to_numpy(dtype=np.int64)
        self.meta = docs[["lang", "repo", "n_chars"]].reset_index(drop=True)
        toks = [t.split() for t in docs["content"]]
        n = len(toks)
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
        self.term_id: dict[str, int] = {}
        # flat token stream (term id, doc position) for phrase anchors
        self.tok_term = np.fromiter(
            (self.term_id.setdefault(w, len(self.term_id)) for t in toks for w in t),
            dtype=np.int64, count=int(lens.sum()),
        )
        self.n_docs = n
        self.lens = lens
        self.avg_len = lens.sum() / max(1, n)
        self.tok_doc = np.repeat(np.arange(n, dtype=np.int64), lens)
        key, self.post_tf = np.unique(self.tok_term * n + self.tok_doc, return_counts=True)
        term_of, self.post_doc = key // n, key % n
        self.indptr = np.searchsorted(term_of, np.arange(len(self.term_id) + 1))
        df = np.diff(self.indptr)
        self.idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
        self.qlen = quantize(lens).astype(np.float64)
        self.partial = self.idf[term_of] * self._tf_norm(self.post_tf, self.post_doc)

    def _tf_norm(self, tf, doc_pos) -> np.ndarray:
        tf = np.asarray(tf, dtype=np.float64)
        return tf * (K1 + 1) / (tf + K1 * (1 - B + B * self.qlen[doc_pos] / self.avg_len))

    def doc_freq(self, term: str) -> int:
        t = self.term_id.get(term)
        return 0 if t is None else int(self.indptr[t + 1] - self.indptr[t])

    def _postings(self, term: str):
        t = self.term_id[term]
        sl = slice(self.indptr[t], self.indptr[t + 1])
        return self.post_doc[sl], self.partial[sl]

    def posting_lists(self, n_terms: int):
        """(doc ids, tfs, doc lengths) of the ``n_terms`` terms with the
        highest doc freq: input for the codec rate measurement."""
        df = np.diff(self.indptr)
        for t in np.argsort(-df, kind="stable")[:n_terms]:
            sl = slice(self.indptr[t], self.indptr[t + 1])
            docs = self.post_doc[sl]
            yield self.doc_ids[docs], self.post_tf[sl], self.lens[docs]

    def _phrase(self, words: list[str]):
        """Doc positions and scores of an exact phrase."""
        if any(w not in self.term_id for w in words):
            return np.empty(0, np.int64), np.empty(0)
        ids = [self.term_id[w] for w in words]
        m = len(ids)
        span = len(self.tok_term) - m + 1
        if span <= 0:
            return np.empty(0, np.int64), np.empty(0)
        ok = self.tok_doc[: span] == self.tok_doc[m - 1:]
        for i, t in enumerate(ids):
            ok &= self.tok_term[i: i + span] == t
        tf = np.bincount(self.tok_doc[: span][ok], minlength=self.n_docs)
        docs = np.flatnonzero(tf)
        idf = sum(math.log(1.0 + (self.n_docs - self.doc_freq(w) + 0.5)
                           / (self.doc_freq(w) + 0.5)) for w in words)
        return docs, idf * self._tf_norm(tf[docs], docs)

    def evaluate(self, qstr: str) -> tuple[np.ndarray, np.ndarray]:
        """Every matching doc: (engine doc ids, scores)."""
        q = parse(qstr)
        must = set(q["must"])
        scored = set(q["should"]) | must
        if any(t not in self.term_id for t in must):
            return np.empty(0, np.int64), np.empty(0)
        score = np.zeros(self.n_docs)
        hit = np.zeros(self.n_docs, dtype=bool)
        must_hits = np.zeros(self.n_docs, dtype=np.int64)
        for t in scored:
            if t not in self.term_id:
                continue
            docs, part = self._postings(t)
            score[docs] += part
            hit[docs] = True
            if t in must:
                must_hits[docs] += 1
        for words in q["phrases"]:
            docs, part = self._phrase(words)
            score[docs] += part
            hit[docs] = True
        matched = must_hits == len(must) if must else hit
        for t in set(q["must_not"]):
            if t in self.term_id:
                matched[self._postings(t)[0]] = False
        pos = np.flatnonzero(matched)
        return self.doc_ids[pos], score[pos]

    def matched_positions(self, qstr: str) -> np.ndarray:
        ids, _ = self.evaluate(qstr)
        return np.searchsorted(self.doc_ids, ids)

    def facets(self, qstr: str) -> dict:
        """count, stats(n_chars), terms(lang, 5), terms(repo, 10),
        histogram(n_chars, 100) over the query's matched set."""
        m = self.meta.iloc[self.matched_positions(qstr)]
        nc = m["n_chars"]
        out = {
            "count": len(m),
            "stats": (len(m), int(nc.sum()),
                      int(nc.min()) if len(m) else None,
                      int(nc.max()) if len(m) else None,
                      float(nc.mean()) if len(m) else None),
        }
        for fld, size in (("lang", 5), ("repo", 10)):
            vc = m[fld].value_counts()
            ranked = sorted(vc.items(), key=lambda kv: (-kv[1], kv[0]))[:size]
            out[fld] = {k: int(c) for k, c in ranked}
        hist = (nc // 100 * 100).value_counts()
        out["hist"] = {float(k): int(c) for k, c in hist.items()}
        return out


def compare_topk(got: list[tuple[int, float]], doc_ids: np.ndarray,
                 scores: np.ndarray, k: int, tol: float = SCORE_TOL) -> str | None:
    """None when ``got`` is a valid top-k of the oracle's full match set,
    else a one-line reason. ``got`` is in the engine's returned order."""
    expect = dict(zip(doc_ids.tolist(), scores.tolist()))
    want_n = min(k, len(expect))
    if len(got) != want_n:
        return f"{len(got)} hits, oracle has {want_n}"
    for i, (d, s) in enumerate(got):
        if d not in expect:
            return f"rank {i}: doc {d} does not match"
        if abs(s - expect[d]) > tol:
            return f"rank {i}: doc {d} score {s!r}, oracle {expect[d]!r}"
        if i and s > got[i - 1][1] + tol:
            return f"rank {i}: score {s!r} above rank {i - 1}"
        if i and s == got[i - 1][1] and d < got[i - 1][0]:
            return f"rank {i}: equal scores out of doc_id order"
    if want_n == 0:
        return None
    order = np.lexsort((doc_ids, -scores))
    cut = scores[order[want_n - 1]]
    got_docs = {d for d, _ in got}
    must_have = set(doc_ids[scores > cut + tol].tolist())
    if not must_have <= got_docs:
        return f"missing docs {sorted(must_have - got_docs)[:5]} above the rank-{k} score"
    if any(expect[d] < cut - tol for d in got_docs):
        return "a hit scores below the oracle's rank-k score"
    return None


def compare_facets(res: dict, want: dict) -> str | None:
    """``res``: the engine's ``collect_results`` rows for the facet op."""
    met = res["metrics"][0]
    if met["count"] != want["count"]:
        return f"count {met['count']} != {want['count']}"
    got_stats = (met["n_chars_count"], met["n_chars_sum"], met["n_chars_min"],
                 met["n_chars_max"], met["n_chars_avg"])
    for name, g, w in zip(("count", "sum", "min", "max", "avg"), got_stats, want["stats"]):
        if (g is None) != (w is None) or (g is not None and abs(g - w) > 1e-6 * max(1, abs(w))):
            return f"stats.{name} {g!r} != {w!r}"
    for fld in ("lang", "repo"):
        got = {r[fld]: r["count"] for r in res[fld]}
        if got != want[fld]:
            return f"terms({fld}) {got} != {want[fld]}"
    got_h = {float(r["bucket"]): r["count"] for r in res["hist"]}
    if got_h != want["hist"]:
        return "histogram(n_chars) buckets differ"
    return None
