"""Expected answers and the seeded query mixes.

``Oracle`` is ``oracle/bm25_numpy.bm25_topk_py`` re-run over a pre-tokenized
corpus: the same tokenizer, the same per-document float expression summed
in the same (sorted) term order, Python's ``round(s, 6)`` and the same
(score desc, doc_id asc) order — so its answers equal ``bm25_topk_py``'s
bit for bit (``cross_check`` asserts it on one query per class) while a query
costs numpy time instead of a re-tokenization of the corpus.

Scope follows the index's delete semantics (``index/deletes.py``): BM25
statistics (N, avgdl, df) count every indexed document, soft-deleted ones
included, and tombstoned documents are dropped from the ranked answer. A
``lang`` filter restricts the statistics to that language, as
``InvertedIndex.corpus_stats(lang)`` does.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from smse_backend_spark import B, K1
from smse_backend_spark.functions.tokenizer import tokenize_py
from smse_backend_spark.oracle.bm25_numpy import bm25_topk_py
from smse_backend_spark.operators.search import query_terms

QUERY_CLASSES = ("hot", "mid", "rare", "absent", "lang", "multi")
_EMPTY = np.empty(0, dtype=np.int64)
_EMPTY_F = np.empty(0, dtype=np.float64)


class Oracle:
    def __init__(self, rows: dict):
        self.texts = rows["text"]
        self.langs = np.array(rows["lang"])
        # term ids in first-seen order, one document's tokens alive at a time
        self.term_ix: dict[str, int] = {}
        intern = self.term_ix.setdefault
        codes = []
        for text in self.texts:
            codes.append(np.array([intern(t, len(self.term_ix))
                                   for t in tokenize_py(text)], dtype=np.int64))
        lens = np.array([c.size for c in codes], dtype=np.int64)
        self.dl = lens.astype(np.float64)
        self.n_tokens = int(lens.sum())
        n_docs = len(codes)
        # one row per posting, sorted by (term, doc): tf = token multiplicity
        key, tf = np.unique(np.concatenate(codes) * n_docs
                            + np.repeat(np.arange(n_docs), lens),
                            return_counts=True)
        self.post_term = key // n_docs
        self.post_doc = key % n_docs
        self.post_tf = tf.astype(np.float64)
        self.offsets = np.searchsorted(self.post_term, np.arange(len(self.term_ix) + 1))
        self.lang_id = pd.factorize(pd.Series(rows["lang"]))[0].astype(np.int64)

    def postings(self, term: str, n_docs: int):
        """(doc ids, tfs) of ``term`` among docs ``[0, n_docs)``."""
        i = self.term_ix.get(term)
        if i is None:
            return _EMPTY, _EMPTY_F
        a, b = self.offsets[i], self.offsets[i + 1]
        ds = self.post_doc[a:b]
        m = ds < n_docs
        return ds[m], self.post_tf[a:b][m]

    def dfs(self, n_docs: int) -> np.ndarray:
        """df of every term over docs ``[0, n_docs)``, indexed by term id."""
        return np.bincount(self.post_term[self.post_doc < n_docs],
                           minlength=len(self.term_ix))

    def dict_entries(self, n_docs: int) -> int:
        """Distinct (lang, term) pairs over docs ``[0, n_docs)`` — what the
        index dictionary must hold after indexing them."""
        m = self.post_doc < n_docs
        n_langs = int(self.lang_id.max()) + 1
        return int(np.unique(self.post_term[m] * n_langs
                             + self.lang_id[self.post_doc[m]]).size)

    def tokens(self, n_docs: int) -> int:
        return int(self.dl[:n_docs].sum())

    def n_postings(self, n_docs: int) -> int:
        return int(np.count_nonzero(self.post_doc < n_docs))

    def df(self, term: str, n_docs: int, lang: str | None = None) -> int:
        ds, _ = self.postings(term, n_docs)
        if lang is not None:
            ds = ds[self.langs[ds] == lang]
        return int(ds.size)

    def topk(self, query: str, k: int, n_docs: int, tombs=(),
             lang: str | None = None) -> list[tuple[int, float]]:
        """Top-k over indexed docs ``[0, n_docs)`` minus ``tombs``."""
        if lang is None:
            scope = np.ones(n_docs, dtype=bool)
        else:
            scope = self.langs[:n_docs] == lang
        n = float(np.count_nonzero(scope))
        if n == 0:
            return []
        avgdl = float(self.dl[:n_docs][scope].sum()) / n
        scores = np.zeros(n_docs, dtype=np.float64)
        for t in query_terms(query):
            ds, tf = self.postings(t, n_docs)
            keep = scope[ds]
            ds, tf = ds[keep], tf[keep]
            if ds.size == 0:
                continue
            df = float(ds.size)
            w = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            dl = self.dl[ds]
            scores[ds] += w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        if len(tombs):
            scores[np.asarray(list(tombs), dtype=np.int64)] = 0.0
        hit = np.flatnonzero(scores > 0.0)
        if hit.size == 0:
            return []
        if hit.size > k:
            # keep every doc that can still rank in the top k once scores
            # are rounded to 6 dp (rounding may tie it with the k-th)
            kth = np.partition(scores[hit], hit.size - k)[hit.size - k]
            hit = hit[scores[hit] >= kth - 2e-6]
        ranked = sorted(((int(d), round(float(scores[d]), 6)) for d in hit),
                        key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def cross_check(self, queries: list[tuple[str, str | None]], n_docs: int,
                    k: int = 10) -> list[str]:
        """Compare ``topk`` with ``bm25_topk_py`` itself over docs
        ``[0, n_docs)``; returns mismatches. Each query's reference top
        answer is tombstoned, so the drop path is compared too:
        ``bm25_topk_py`` has no tombstone notion, so it ranks every doc of
        the scope and the tombstoned one is dropped afterwards."""
        bad = []
        for q, lang in queries:
            docs = [(d, self.texts[d]) for d in range(n_docs)
                    if lang is None or self.langs[d] == lang]
            ref = bm25_topk_py(docs, q, k + 1)
            dead = {ref[0][0]} if ref else set()
            want = [kv for kv in ref if kv[0] not in dead][:k]
            got = self.topk(q, k, n_docs, dead, lang)
            if got != want:
                bad.append(f"oracle twin differs from bm25_topk_py on {q!r}/{lang}")
        return bad


class QueryMix:
    """Seeded query generator over a generated corpus.

    Classes: ``hot`` (language keywords, df ~ N/5), ``mid`` (identifier
    words with mid-range df), ``rare`` (per-document literal tokens, df 1),
    ``absent`` (an unseen token next to present ones), ``lang`` (a
    lang-filtered mid query), ``multi`` (3-5 terms across the classes).
    """

    def __init__(self, oracle: Oracle, n_docs: int, keywords: dict,
                 rng: np.random.Generator):
        self.rng = rng
        self.keywords = keywords
        dfs = oracle.dfs(n_docs)
        kw = {k for ks in keywords.values() for k in ks}
        self.mid = sorted(t for t, i in oracle.term_ix.items()
                          if 8 <= dfs[i] <= max(16, n_docs // 40) and t not in kw)
        self.rare = sorted(t for t, i in oracle.term_ix.items()
                           if dfs[i] == 1 and t.startswith("0x"))
        if not self.mid or not self.rare:
            raise ValueError("corpus too small for the query mix")

    def _pick(self, pool, n=1):
        return [pool[i] for i in self.rng.integers(0, len(pool), size=n)]

    def query(self, cls: str) -> tuple[str, str | None]:
        langs = sorted(self.keywords)
        lang = langs[int(self.rng.integers(0, len(langs)))]
        if cls == "hot":
            return " ".join(self._pick(self.keywords[lang], 2)), None
        if cls == "mid":
            return " ".join(self._pick(self.mid, int(self.rng.integers(1, 3)))), None
        if cls == "rare":
            return " ".join(self._pick(self.rare, int(self.rng.integers(1, 3)))), None
        if cls == "absent":
            ghost = f"zq{int(self.rng.integers(0, 1 << 30)):x}qz"
            return f"{ghost} {self._pick(self.mid)[0]}", None
        if cls == "lang":
            return " ".join(self._pick(self.mid, 2)), lang
        terms = (self._pick(self.mid, int(self.rng.integers(1, 3)))
                 + self._pick(self.rare, 1)
                 + self._pick(self.keywords[lang], int(self.rng.integers(1, 3))))
        return " ".join(terms), None

    def cycle(self, n: int) -> list[tuple[str, str | None]]:
        """``n`` queries, the classes taken round-robin so every run sees
        the same class proportions."""
        return [self.query(QUERY_CLASSES[i % len(QUERY_CLASSES)]) for i in range(n)]
