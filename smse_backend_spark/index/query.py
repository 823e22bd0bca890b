"""Query-time BM25 top-k over the segment-partitioned index.

Two exact modes:

- ``exhaustive``: decode every matching posting block, score, distributed
  top-k. The correctness anchor.
- ``pruned`` (block-max, default): a metadata-only pass reads just the tiny
  per-block stat columns (``block_max_tf``/``block_min_dl`` — Parquet column
  pruning never touches the compressed blobs), computes a sound per-segment
  score upper bound, scores the most promising segments first to obtain a
  threshold θ, then decodes only segments whose upper bound can still beat
  θ. This is block-max WAND at segment granularity, re-expressed as two
  DataFrame jobs instead of a per-posting iterator — the idiomatic Spark
  shape (driver steers with two tiny actions; all data movement stays
  declarative). Exactness: every skipped segment has ub < θ ≤ k-th score,
  so no skipped doc can enter the top-k.

Plan shape to expect at scale: partition pruning on (lang, term_bucket,
batch), predicate pushdown on term, ArrowEvalPython only for block decode,
and ``TakeOrderedAndProject`` on top.

Replaces the reference's per-query exact pgvector scan
(smse_backend/services/search.py:97-110, which has no ANN index) with a
sublinear indexed path.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smse_backend_spark import B, DEFAULT_TOP_K, K1
from smse_backend_spark.functions.bm25 import bm25_idf
from smse_backend_spark.index import lineage as lin
from smse_backend_spark.index.codec import decode_blocks, delta_decode
from smse_backend_spark.index.deletes import live_mask
from smse_backend_spark.operators.search import query_terms

RESULT_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("score", T.DoubleType())]
)

DECODED_SCHEMA = "term string, doc_id long, tf long, dl long"

# sliced-scroll hash salt — distinct from the split/sample salts so slice
# membership is independent of train/val assignment
SLICE_SALT = "-slice-v1"


def _decode_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            continue
        gaps, counts = decode_blocks(list(pdf["gaps"]))
        tfs, _ = decode_blocks(list(pdf["tfs"]))
        dls, _ = decode_blocks(list(pdf["dls"]))
        doc_ids = delta_decode(
            gaps.astype(np.int64), pdf["first_doc"].to_numpy(np.int64), counts
        )
        yield pd.DataFrame(
            {
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "doc_id": doc_ids,
                "tf": tfs.astype(np.int64),
                "dl": dls.astype(np.int64),
            }
        )


def _levenshtein_band(a: str, b: str, d: int) -> int:
    """Standard Levenshtein distance (unit insert/delete/replace — the same
    metric as Spark's ``levenshtein`` expression and DuckDB's
    ``levenshtein``) between ``a`` and ``b`` if it is <= ``d``, else
    ``d + 1``. Banded DP with early abandon: O(min(len)*d) per pair, which
    keeps a full driver-side dictionary walk cheap."""
    la, lb = len(a), len(b)
    big = d + 1
    if abs(la - lb) > d:
        return big
    if d == 0:
        return 0 if a == b else big
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        lo, hi = max(1, i - d), min(lb, i + d)
        cur = [big] * (lb + 1)
        cur[0] = i if i <= d else big
        for j in range(lo, hi + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        if min(cur[lo - 1: hi + 1]) > d:
            return big
        prev = cur
    return min(prev[lb], big)


def _levenshtein_within(a: str, b: str, d: int) -> bool:
    return _levenshtein_band(a, b, d) <= d


def _damerau_levenshtein(a: str, b: str) -> int:
    """UNRESTRICTED Damerau-Levenshtein distance (insert / delete /
    replace / transpose-adjacent, where a transposed pair may still be
    edited between — e.g. ``ca -> abc`` is 2, not the OSA 3). This is the
    exact metric DuckDB's ``damerau_levenshtein`` computes, so the oracle
    SQL and this driver-side walk agree term-for-term; the classic
    alphabet-indexed DP (Damerau 1964 / Lowrance-Wagner)."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    da: dict[str, int] = {}
    # d has a sentinel border row/col at index 0 holding maxdist
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitute
                d[i + 1][j] + 1,           # insert
                d[i][j + 1] + 1,           # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _damerau_within(a: str, b: str, d: int) -> bool:
    # length-difference lower bound first — it prunes most of the
    # dictionary before the O(len*len) DP runs
    if abs(len(a) - len(b)) > d:
        return False
    return _damerau_levenshtein(a, b) <= d


def _make_batch_scorer(
    term_ix: dict[str, int], w_mat: np.ndarray, qids: np.ndarray, avgdl: float,
    k: int, tomb_b=None,
):
    """Per-partition batch kernel: decode posting blocks AND score all
    queries in one pass (no decoded-row materialization between stages).

    Input rows are compressed blocks, partitioned by ``segment`` upstream —
    segments are disjoint doc-id ranges, so a doc's entire profile lands in
    exactly one partition and the shuffle moves only compressed bytes.
    Emits each query's local top-(k+pad) rows (score desc, doc_id asc).
    """
    from smse_backend_spark import B, K1

    pad = 32  # guard for rounding-induced rank flips near the k boundary

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in _decode_map(batches) if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        if tomb_b is not None:
            # soft-delete filter: drop tombstoned docs before scoring (a
            # post-top-k filter would let deleted docs displace survivors)
            pdf = pdf[live_mask(tomb_b.value, pdf["doc_id"].to_numpy(np.int64))]
            if pdf.empty:
                return
        tf = pdf["tf"].to_numpy(np.float64)
        dl = pdf["dl"].to_numpy(np.float64)
        tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        t_idx = pdf["term"].map(term_ix).to_numpy(np.int64)
        # dense (postings x queries) contributions, grouped by doc: one
        # C-path groupby-sum instead of scalar scatter-adds
        contrib = pd.DataFrame(tfn[:, None] * w_mat[t_idx])
        contrib["__doc"] = pdf["doc_id"].to_numpy()
        scores = contrib.groupby("__doc", sort=False).sum()
        doc_ids = scores.index.to_numpy(np.int64)
        # transpose to contiguous per-query rows (the docs x queries layout
        # strides 8*n_queries bytes per element down a column — measured
        # ~16% of batch wall-clock at 64 queries x 1.5 M docs) and round
        # ONCE, vectorized, instead of per-query on the nonzero subset
        mat = np.round(np.ascontiguousarray(scores.to_numpy().T), 6)

        kk = min(k + pad, mat.shape[1])
        out_q, out_d, out_s = [], [], []
        for j in range(mat.shape[0]):
            col = mat[j]
            nz = np.flatnonzero(col > 0.0)
            if nz.size == 0:
                continue
            # deterministic candidate cut: partition on the ROUNDED scores
            # and keep every row tying the kk-th rounded score, so the kept
            # set is exactly the (score desc, doc_id asc) prefix —
            # tie-heavy partitions (replica corpora) stay rank-identical to
            # the scan/pruned paths instead of keeping an arbitrary subset
            sc_nz = col[nz]
            take, sc = nz, sc_nz
            if nz.size > kk:
                part = np.argpartition(-sc_nz, kk - 1)
                thresh = sc_nz[part[kk - 1]]
                keep = np.flatnonzero(sc_nz >= thresh)
                take, sc = nz[keep], sc_nz[keep]
            order = np.lexsort((doc_ids[take], -sc))[:kk]
            n = order.size
            out_q.append(np.full(n, qids[j], dtype=np.int64))
            out_d.append(doc_ids[take][order])
            out_s.append(sc[order])
        if out_q:
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "doc_id": np.concatenate(out_d),
                    "score": np.concatenate(out_s),
                }
            )

    return kernel


def _decode_positional_rows(batches, tomb_b=None):
    """Decode positional posting blocks into the per-(doc, term) position
    map shared by the phrase / span-near kernels. Returns
    ``(grouped, dl_of, cand_docs)``: ``grouped[(doc, term)]`` is the sorted
    absolute token-offset array, ``dl_of[doc]`` the doc length, and
    ``cand_docs`` the docs carrying EVERY distinct term seen in this
    partition's input terms (computed by the caller from ``grouped``)."""
    frames = []
    for pdf in batches:
        if pdf.empty:
            continue
        gaps, counts = decode_blocks(list(pdf["gaps"]))
        tfs, _ = decode_blocks(list(pdf["tfs"]))
        dls, _ = decode_blocks(list(pdf["dls"]))
        pos_flat, _ = decode_blocks(list(pdf["poss"]))
        doc_ids = delta_decode(
            gaps.astype(np.int64), pdf["first_doc"].to_numpy(np.int64), counts
        )
        tfs = tfs.astype(np.int64)
        # positions: delta per posting with raw first -> absolute via
        # cumsum minus the cumsum offset at each posting start
        d = pos_flat.astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(tfs[:-1])))
        cum = np.cumsum(d)
        firsts = d[starts]
        abs_pos = cum - np.repeat(cum[starts] - firsts, tfs)
        frames.append(
            pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), counts),
                    "doc_id": doc_ids,
                    "dl": dls.astype(np.int64),
                    "pos_start": starts,
                    "tf": tfs,
                }
            ).assign(
                positions=[
                    abs_pos[s : s + t] for s, t in zip(starts, tfs)
                ]
            )
        )
    if not frames:
        return None, None
    all_rows = pd.concat(frames, ignore_index=True)
    if tomb_b is not None:
        all_rows = all_rows[
            live_mask(tomb_b.value, all_rows["doc_id"].to_numpy(np.int64))
        ]
        if all_rows.empty:
            return None, None
    grouped: dict[tuple[int, str], np.ndarray] = {}
    dl_of: dict[int, int] = {}
    for r in all_rows.itertuples(index=False):
        grouped[(r.doc_id, r.term)] = r.positions
        dl_of[r.doc_id] = r.dl
    return grouped, dl_of


def _docs_with_all_terms(grouped, uniq: list[str]) -> set:
    per_term_docs = [{d for (d, t) in grouped if t == u} for u in uniq]
    return set.intersection(*per_term_docs) if per_term_docs else set()


def _make_span_contain_matcher(
    big_a: str, big_b: str, little: str, window: int, mode: str, tomb_b=None
):
    """mapInPandas kernel for Lucene SpanContainingQuery /
    SpanWithinQuery with big = unordered two-term near-span (window =
    max offset span) and little = one term. Emits (doc_id, stf, dl):

    * ``containing`` — stf counts big spans, i.e. (pa, pb) pairs with
      ``|pa - pb| <= window`` that enclose >= 1 little occurrence
      (``min <= pc <= max`` — single-term span ends are base-invariant);
    * ``within`` — stf counts little occurrences enclosed by >= 1 such
      qualifying pair.

    The pair lattice is per-doc tf_a x tf_b (tiny — per-doc tfs, not
    corpus-sized); the containment test is one searchsorted per pair
    (containing) or one broadcasted interval mask (within)."""
    uniq = sorted({big_a, big_b, little})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        out = {"doc_id": [], "stf": [], "dl": []}
        if grouped is not None:
            for doc in _docs_with_all_terms(grouped, uniq):
                A = grouped[(doc, big_a)]
                Bp = grouped[(doc, big_b)]
                C = np.sort(grouped[(doc, little)])
                lo = np.minimum.outer(A, Bp).ravel()
                hi = np.maximum.outer(A, Bp).ravel()
                ok = (hi - lo) <= window
                lo, hi = lo[ok], hi[ok]
                if lo.size == 0:
                    continue
                if mode == "containing":
                    has_c = (
                        np.searchsorted(C, hi, side="right")
                        - np.searchsorted(C, lo, side="left")
                    ) > 0
                    stf = int(has_c.sum())
                else:  # within
                    enclosed = (
                        (lo[None, :] <= C[:, None])
                        & (C[:, None] <= hi[None, :])
                    ).any(axis=1)
                    stf = int(enclosed.sum())
                if stf:
                    out["doc_id"].append(doc)
                    out["stf"].append(stf)
                    out["dl"].append(int(dl_of[doc]))
        if out["doc_id"]:
            yield pd.DataFrame(
                {
                    "doc_id": np.array(out["doc_id"], dtype=np.int64),
                    "stf": np.array(out["stf"], dtype=np.int64),
                    "dl": np.array(out["dl"], dtype=np.int64),
                }
            )

    return kernel


def _make_phrase_matcher(terms: list[str], tomb_b=None):
    """mapInPandas kernel: positional blocks (one partition holds every
    phrase term's postings for its segments) -> (doc_id, phrase_tf, dl)
    for docs where the terms occur at consecutive token offsets.

    Adjacency check is numpy: start with the first term's positions per
    doc, then for each later term keep only positions p with p+i present
    in that term's (sorted) position set — ``np.isin`` per candidate doc.
    Duplicate phrase terms reuse the same posting list at both offsets.
    """
    uniq = sorted(set(terms))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        if grouped is None:
            return
        cand_docs = _docs_with_all_terms(grouped, uniq)
        out_d, out_ptf, out_dl = [], [], []
        for doc in cand_docs:
            cand = grouped[(doc, terms[0])]
            for i, t in enumerate(terms[1:], start=1):
                cand = cand[np.isin(cand + i, grouped[(doc, t)])]
                if cand.size == 0:
                    break
            if cand.size:
                out_d.append(doc)
                out_ptf.append(int(cand.size))
                out_dl.append(dl_of[doc])
        if out_d:
            yield pd.DataFrame(
                {"doc_id": np.array(out_d, dtype=np.int64),
                 "ptf": np.array(out_ptf, dtype=np.int64),
                 "dl": np.array(out_dl, dtype=np.int64)}
            )

    return kernel


def _min_cover_within(pos_lists: list[np.ndarray], window: int) -> bool:
    """True iff one occurrence can be picked from every list such that
    ``max(picks) - min(picks) <= window`` — the minimal cover window over
    k sorted position lists, via the classic k-pointer sweep: repeatedly
    advance the list whose current pick is the global minimum."""
    ptrs = [0] * len(pos_lists)
    heads = [pl[0] for pl in pos_lists]
    while True:
        lo_i = min(range(len(heads)), key=heads.__getitem__)
        if max(heads) - heads[lo_i] <= window:
            return True
        ptrs[lo_i] += 1
        if ptrs[lo_i] >= len(pos_lists[lo_i]):
            return False
        heads[lo_i] = pos_lists[lo_i][ptrs[lo_i]]


def _ordered_cover_within(pos_lists: list[np.ndarray], window: int) -> bool:
    """True iff strictly-increasing picks p_1 < ... < p_n (one per list,
    lists in QUERY order) exist with p_n - p_1 <= window — the in-order
    span (Lucene SpanNearQuery in_order=true). Greedy: for each start in
    list 1, chain the smallest later position per following list — the
    minimal chain for that start; pointers never rewind (chains are
    monotone in the start), so the sweep is O(total positions)."""
    if len(pos_lists) == 1:
        return True
    ptrs = [0] * len(pos_lists)
    for p1 in pos_lists[0]:
        prev = p1
        for i in range(1, len(pos_lists)):
            pl = pos_lists[i]
            j = ptrs[i]
            while j < len(pl) and pl[j] <= prev:
                j += 1
            ptrs[i] = j
            if j >= len(pl):
                return False
            prev = pl[j]
        if prev - p1 <= window:
            return True
    return False


def _make_near_matcher(
    terms: list[str], window: int, idf: dict[str, float], avgdl: float,
    tomb_b=None, in_order: bool = False,
):
    """mapInPandas kernel for span-near (proximity) search: emits
    (doc_id, score) for docs where EVERY distinct term occurs and some
    choice of one occurrence per term spans at most ``window`` tokens
    (max offset - min offset <= window; with ``in_order`` the picks must
    additionally be strictly increasing in query order). Score is the
    standard BM25 sum over the terms' FULL doc tfs with global idf —
    proximity filters, it never rescores (Lucene SpanNearQuery-as-filter
    discipline)."""
    uniq = sorted(set(terms))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        if grouped is None:
            return
        cand_docs = _docs_with_all_terms(grouped, uniq)
        out_d, out_s = [], []
        for doc in cand_docs:
            pos_lists = [grouped[(doc, t)] for t in uniq]
            if in_order:
                seq = [grouped[(doc, t)] for t in terms]
                if not _ordered_cover_within(seq, window):
                    continue
            elif not _min_cover_within(pos_lists, window):
                continue
            dl = float(dl_of[doc])
            score = 0.0
            for t, pl in zip(uniq, pos_lists):
                tf = float(pl.size)
                score += idf[t] * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl)
                )
            out_d.append(doc)
            out_s.append(score)
        if out_d:
            yield pd.DataFrame(
                {"doc_id": np.array(out_d, dtype=np.int64),
                 "score": np.array(out_s, dtype=np.float64)}
            )

    return kernel


def _sloppy_phrase_freq(lists: list[np.ndarray], slop: int) -> float:
    """Lucene ``SloppyPhraseMatcher.phraseFreq()`` for non-repeating
    phrases, verbatim: ``lists[i]`` is term i's sorted ADJUSTED position
    array (position - phrase offset). A match is found each time the
    minimum phrase position is advanced past the next-smallest one;
    its match length is the smallest (end - min) seen while minimizing,
    and contributes Lucene's slop factor ``1 / (1 + matchLength)`` when
    ``matchLength <= slop``. Ties in the queue break toward the lower
    phrase offset (PhraseQueue's comparator). Returns the accumulated
    sloppy frequency (0.0 = no match within slop)."""
    n = len(lists)
    ptrs = [0] * n
    cur = [int(l[0]) for l in lists]
    end = max(cur)
    order = sorted(range(n), key=lambda i: (cur[i], i))
    ppi = order[0]
    nxt = cur[order[1]]
    ml = end - cur[ppi]
    freq = 0.0
    while True:
        ptrs[ppi] += 1
        if ptrs[ppi] >= lists[ppi].size:
            break
        c = int(lists[ppi][ptrs[ppi]])
        cur[ppi] = c
        if c > end:
            end = c
        if c > nxt:
            if ml <= slop:
                freq += 1.0 / (1.0 + ml)
            order = sorted(range(n), key=lambda i: (cur[i], i))
            ppi = order[0]
            nxt = cur[order[1]]
            ml = end - cur[ppi]
        else:
            ml2 = end - c
            if ml2 < ml:
                ml = ml2
    if ml <= slop:
        freq += 1.0 / (1.0 + ml)
    return freq


def _make_sloppy_phrase_matcher(terms: list[str], slop: int, tomb_b=None):
    """mapInPandas kernel for the sloppy phrase: positional blocks ->
    (doc_id, freq, dl) for docs whose accumulated Lucene sloppy
    frequency is > 0. ``terms`` must be distinct (the repeats-aware
    Lucene path is a different algorithm — callers reject repeats)."""
    uniq = sorted(terms)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        if grouped is None:
            return
        cand_docs = _docs_with_all_terms(grouped, uniq)
        out_d, out_f, out_dl = [], [], []
        for doc in sorted(cand_docs):
            lists = [grouped[(doc, t)] - i for i, t in enumerate(terms)]
            freq = _sloppy_phrase_freq(lists, slop)
            if freq > 0.0:
                out_d.append(doc)
                out_f.append(freq)
                out_dl.append(dl_of[doc])
        if out_d:
            yield pd.DataFrame(
                {"doc_id": np.array(out_d, dtype=np.int64),
                 "freq": np.array(out_f, dtype=np.float64),
                 "dl": np.array(out_dl, dtype=np.int64)}
            )

    return kernel


def _cover_avoiding(
    lists: list[np.ndarray], window: int, in_order: bool, fpos
) -> bool:
    """Cover check with an optional ``not_containing`` exclusion: True
    iff one pick per list fits the window (ordered if ``in_order``) AND
    the picked span contains no position from ``fpos``. The filter
    positions split the token axis into f-free segments; a combo avoids
    ``fpos`` exactly when its whole span lies inside one segment, so we
    slice every list to each segment (searchsorted) and re-run the plain
    cover check — O(|fpos| · cover sweep) per doc, still bounded by the
    doc's own position counts."""
    if fpos is None or fpos.size == 0:
        return (
            _ordered_cover_within(lists, window)
            if in_order
            else _min_cover_within(lists, window)
        )
    bounds = np.concatenate(
        (np.array([-1], dtype=np.int64), fpos,
         np.array([np.iinfo(np.int64).max], dtype=np.int64))
    )
    for a, b in zip(bounds[:-1], bounds[1:]):
        if b - a < 2:
            continue
        sliced, ok = [], True
        for pl in lists:
            lo = np.searchsorted(pl, a, side="right")
            hi = np.searchsorted(pl, b, side="left")
            if lo >= hi:
                ok = False
                break
            sliced.append(pl[lo:hi])
        if not ok:
            continue
        if (
            _ordered_cover_within(sliced, window)
            if in_order
            else _min_cover_within(sliced, window)
        ):
            return True
    return False


def _make_interval_sets_matcher(
    sources: list[tuple[str, ...]], window: int, idf: dict[str, float],
    avgdl: float, tomb_b=None, in_order: bool = False,
    excludes: tuple[str, ...] = (),
):
    """mapInPandas kernel for the compositional ES ``intervals`` query
    ``all_of`` over ``any_of`` sub-sources: each source's position list
    is the UNION of its member terms' occurrences (an ``any_of`` of
    width-1 ``match`` intervals — a singleton source is a plain term);
    a doc matches when one position can be picked per source with
    ``max - min <= window`` (and, ``in_order``, strictly increasing in
    source order). Scoring follows the span discipline: BM25 sum
    (global idf, full doc tf) over the distinct member terms PRESENT in
    the doc — a source's absent alternatives contribute nothing.
    ``excludes`` is the ES ``filter.not_containing`` rule: a doc matches
    only if SOME valid combo's span contains no occurrence of any
    exclude term — exactly Lucene's minimal-interval filter semantics
    (an exclude-free valid combo always contains an exclude-free minimal
    interval, and conversely). Exclude terms are decoded, never scored."""
    uniq = sorted({t for s in sources for t in s})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        if grouped is None:
            return
        docs_of_term = {u: {d for (d, t) in grouped if t == u} for u in uniq}
        cand_docs = set.intersection(
            *[set.union(*[docs_of_term[t] for t in s]) for s in sources]
        ) if sources else set()
        out_d, out_s = [], []
        for doc in sorted(cand_docs):
            lists = []
            for s in sources:
                parts = [grouped[(doc, t)] for t in s if (doc, t) in grouped]
                lists.append(
                    parts[0] if len(parts) == 1
                    else np.unique(np.concatenate(parts))
                )
            fparts = [
                grouped[(doc, t)] for t in excludes if (doc, t) in grouped
            ]
            fpos = (
                None if not fparts
                else fparts[0] if len(fparts) == 1
                else np.unique(np.concatenate(fparts))
            )
            if not _cover_avoiding(lists, window, in_order, fpos):
                continue
            dl = float(dl_of[doc])
            score = 0.0
            for t in uniq:
                if (doc, t) not in grouped:
                    continue
                tf = float(grouped[(doc, t)].size)
                score += idf[t] * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl)
                )
            out_d.append(doc)
            out_s.append(score)
        if out_d:
            yield pd.DataFrame(
                {"doc_id": np.array(out_d, dtype=np.int64),
                 "score": np.array(out_s, dtype=np.float64)}
            )

    return kernel


def wildcard_to_regex(pattern: str) -> str:
    """Lucene wildcard syntax -> anchored-regex subset: ``*`` = ``.*``,
    ``?`` = ``.``, everything else literal (escaped). The output stays
    RE2-compatible, so Python ``re``, JVM ``rlike`` and DuckDB
    ``regexp_full_match`` all agree on it."""
    import re as _re

    return "".join(
        ".*" if c == "*" else "." if c == "?" else _re.escape(c)
        for c in pattern
    )


def _make_span_first_matcher(term: str, end: int, tomb_b=None):
    """mapInPandas kernel: positional blocks for ONE term -> (doc_id,
    stf, dl) where stf counts occurrences at token offset < ``end``
    (Lucene SpanFirstQuery); docs with no qualifying occurrence never
    leave the kernel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        out = {"doc_id": [], "stf": [], "dl": []}
        if grouped is not None:
            for (doc, t), pos in grouped.items():
                if t != term:
                    continue
                stf = int((pos < end).sum())
                if stf > 0:
                    out["doc_id"].append(doc)
                    out["stf"].append(stf)
                    out["dl"].append(dl_of[doc])
        yield pd.DataFrame(out).astype(
            {"doc_id": "int64", "stf": "int64", "dl": "int64"}
        )

    return kernel


def _make_span_first_set_matcher(terms: frozenset, end: int, tomb_b=None):
    """mapInPandas kernel: positional blocks for a TERM SET -> (doc_id,
    stf, dl) where stf counts occurrences of ANY member at token offset
    < ``end`` (Lucene SpanMultiTermQueryWrapper(prefix) inside a
    SpanFirstQuery — the expanded terms form one span source)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        out = {"doc_id": [], "stf": [], "dl": []}
        if grouped is not None:
            acc: dict[int, int] = {}
            for (doc, t), pos in grouped.items():
                if t not in terms:
                    continue
                c = int((pos < end).sum())
                if c:
                    acc[doc] = acc.get(doc, 0) + c
            for doc, stf in acc.items():
                out["doc_id"].append(doc)
                out["stf"].append(stf)
                out["dl"].append(dl_of[doc])
        yield pd.DataFrame(out).astype(
            {"doc_id": "int64", "stf": "int64", "dl": "int64"}
        )

    return kernel


def _make_span_not_matcher(inc: str, exc: str, dist: int, tomb_b=None):
    """mapInPandas kernel for Lucene SpanNotQuery over single-term spans:
    positional blocks for the include and exclude terms -> (doc_id, stf,
    dl) where ``stf`` counts include-term occurrences with NO exclude-term
    occurrence within ``dist`` tokens (|p_inc - p_exc| <= dist — the
    pre/post window); docs with no surviving occurrence never leave the
    kernel. The nearest-exclude distance per occurrence is one
    ``searchsorted`` over the doc's sorted exclude positions."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grouped, dl_of = _decode_positional_rows(batches, tomb_b)
        out = {"doc_id": [], "stf": [], "dl": []}
        if grouped is not None:
            exc_of = {
                doc: pos for (doc, t), pos in grouped.items() if t == exc
            }
            for (doc, t), pos in grouped.items():
                if t != inc:
                    continue
                ex = exc_of.get(doc)
                if ex is None or ex.size == 0:
                    stf = int(pos.size)
                else:
                    big = np.int64(1 << 60)
                    ix = np.searchsorted(ex, pos)
                    left = np.where(
                        ix > 0, pos - ex[np.maximum(ix - 1, 0)], big
                    )
                    right = np.where(
                        ix < ex.size, ex[np.minimum(ix, ex.size - 1)] - pos,
                        big,
                    )
                    stf = int((np.minimum(left, right) > dist).sum())
                if stf > 0:
                    out["doc_id"].append(doc)
                    out["stf"].append(stf)
                    out["dl"].append(dl_of[doc])
        yield pd.DataFrame(out).astype(
            {"doc_id": "int64", "stf": "int64", "dl": "int64"}
        )

    return kernel


def _tf_norm(tf_col, dl_col, avgdl: float):
    d = tf_col.cast("double")
    return d * (K1 + 1.0) / (d + K1 * (1.0 - B + B * dl_col.cast("double") / avgdl))


class InvertedIndex:
    """Reader handle over an index directory produced by ``build_index``."""

    # vocabularies up to this size are collected to the driver once and kept
    # as a plain dict — removes one Spark job per query. Bigger vocabularies
    # (the 10^12-file regime) fall back to pruned parquet lookups.
    DICT_CACHE_MAX_TERMS = 500_000

    # tombstone sets up to this size ship to the scoring kernels as ONE
    # sorted int64 array (80 MB at the cap) — a searchsorted filter with
    # zero extra shuffle. Bigger sets use a distributed left-anti join on
    # the decode paths; the in-kernel batch path then refuses and the fix
    # is compact_index (Lucene semantics: that much deletion is merge time).
    TOMB_ARRAY_CAP = 10_000_000

    def __init__(
        self, spark: SparkSession, path: str, as_of_batch: int | None = None
    ):
        """``as_of_batch``: time travel — query the index as it was after
        batch N committed (the Iceberg snapshot-read analog). Postings are
        partition-pruned to ``batch <= N``; corpus stats come from the
        lineage rows of those batches (recorded at commit time); term df
        is summed from the pruned blocks' metadata (the dictionary is
        as-of-latest, so it is not consulted). Exact for the historical
        corpus — batches are doc-id ranges, so batch N's commit point IS a
        consistent corpus snapshot."""
        from smse_backend_spark.session import ensure_pyfiles

        ensure_pyfiles(spark)
        self.spark = spark
        self.path = path
        self.meta = lin.read_meta(path)
        self.as_of = as_of_batch
        if as_of_batch is not None:
            rows = [r for r in lin.read_lineage(path)
                    if r["batch_id"] <= as_of_batch]
            if not rows or rows[-1]["batch_id"] != as_of_batch:
                raise ValueError(
                    f"as_of_batch={as_of_batch} is not a committed batch of "
                    f"{path} (have {sorted(r['batch_id'] for r in rows)})"
                )
            if any("per_lang" not in r for r in rows):
                raise ValueError(
                    "index predates per-lang lineage stats — rebuild (or "
                    "extend) to enable time travel"
                )
            self._as_of_rows = rows
        # lang -> term -> (df, cf); the None key holds the cross-lang sums
        self._dict_cache: dict[str | None, dict[str, tuple[int, int]]] | None = None
        self._tomb_loaded = False
        self._tomb_bcast = None  # sc.broadcast of the sorted id array
        self._tomb_df: DataFrame | None = None  # join fallback (big sets)
        self.analyzer = self.meta.get("config", {}).get("analyzer", "standard")
        self.synonyms = self.meta.get("config", {}).get("synonyms") or {}

    def _analyze(self, query_text: str) -> list[str]:
        """Query terms in the INDEX's term space: the recorded index-time
        analyzer is applied to the query too (Lucene's rule — query and
        index must share the analyzer or ranking silently breaks)."""
        from smse_backend_spark.functions.tokenizer import stem_py

        terms = query_terms(query_text)
        if self.analyzer == "stem":
            terms = sorted({stem_py(t) for t in terms})
        elif self.analyzer == "synonym":
            terms = sorted({self.synonyms.get(t, t) for t in terms})
        return terms

    def _analyze_seq(self, query_text: str) -> list[str]:
        """Query tokens in the index's term space with ORDER AND
        DUPLICATES PRESERVED — each raw token folded through the
        index-time analyzer individually. The sequence form that
        position-sensitive consumers (phrase_suggest, span order)
        need; :meth:`_analyze` is the sorted/deduped set form BM25
        scoring uses."""
        from smse_backend_spark.functions.tokenizer import stem_py, tokenize_py

        toks = tokenize_py(query_text)
        if self.analyzer == "stem":
            toks = [stem_py(t) for t in toks]
        elif self.analyzer == "synonym":
            toks = [self.synonyms.get(t, t) for t in toks]
        return toks

    # -- soft deletes ------------------------------------------------------

    def _load_tombs(self) -> None:
        if self._tomb_loaded:
            return
        from smse_backend_spark.index import deletes

        arr = deletes.tombstone_array(self.spark, self.path, self.TOMB_ARRAY_CAP)
        if arr is not None:
            self._tomb_bcast = self.spark.sparkContext.broadcast(arr)
        else:
            self._tomb_df = deletes.read_tombstones(self.spark, self.path)
        self._tomb_loaded = True

    def _live(self, decoded: DataFrame) -> DataFrame:
        """Drop tombstoned docs from a decoded (doc_id, ...) frame."""
        self._load_tombs()
        if self._tomb_bcast is not None:
            tdf = F.broadcast(
                self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": self._tomb_bcast.value})
                )
            )
            return decoded.join(tdf, "doc_id", "left_anti")
        if self._tomb_df is not None:
            return decoded.join(self._tomb_df, "doc_id", "left_anti")
        return decoded

    # -- stats ------------------------------------------------------------

    def corpus_stats(self, lang: str | None = None) -> tuple[float, float]:
        if self.as_of is not None:
            if lang is None:
                n = sum(r["n_docs"] for r in self._as_of_rows)
                sdl = sum(r["sum_dl"] for r in self._as_of_rows)
            else:
                pls = [r["per_lang"].get(lang, {"n_docs": 0, "sum_dl": 0})
                       for r in self._as_of_rows]
                n = sum(p["n_docs"] for p in pls)
                sdl = sum(p["sum_dl"] for p in pls)
            return float(n), (sdl / n if n else 0.0)
        if lang is None:
            n, sdl = self.meta["n_docs"], self.meta["sum_dl"]
        else:
            st = self.meta["per_lang"].get(lang, {"n_docs": 0, "sum_dl": 0})
            n, sdl = st["n_docs"], st["sum_dl"]
        return float(n), (sdl / n if n else 0.0)

    def _cached_dict(self, lang: str | None) -> dict[str, tuple[int, int]] | None:
        """term -> (df, cf) of ``lang`` (summed over langs for None) from
        the driver dictionary cache, loaded on first use; None when the
        vocabulary is too big to cache and callers must read the
        dictionary parquet instead."""
        if self.meta.get("n_terms", 1 << 62) > self.DICT_CACHE_MAX_TERMS:
            return None
        if self._dict_cache is None:
            cache: dict[str | None, dict[str, tuple[int, int]]] = {}
            for r in self.spark.read.parquet(f"{self.path}/dictionary").collect():
                cache.setdefault(r["lang"], {})[r["term"]] = (r["df"], r["cf"])
            totals: dict[str, tuple[int, int]] = {}
            for per_term in cache.values():
                for t, (df, cf) in per_term.items():
                    tdf, tcf = totals.get(t, (0, 0))
                    totals[t] = (tdf + df, tcf + cf)
            cache[None] = totals
            self._dict_cache = cache
        return self._dict_cache.get(lang, {})

    def _term_stats(self, terms: list[str], lang: str | None, stat: str) -> dict[str, int]:
        """Per-term ``stat`` ("df" or "cf") of the terms present — the one
        place the source is chosen: under time travel, summed from the
        pruned blocks' metadata (one posting per (doc, term), so df = sum
        of block counts and cf = sum of ``block_sum_tf``; the dictionary
        is as-of-latest); else the driver cache when the vocabulary fits;
        else a pruned dictionary read."""
        if self.as_of is not None:
            block_col = {"df": "n", "cf": "block_sum_tf"}[stat]
            rows = (
                self._blocks(terms, lang)
                .groupBy("term").agg(F.sum(block_col).alias(stat)).collect()
            )
            return {r["term"]: int(r[stat]) for r in rows}
        cached = self._cached_dict(lang)
        if cached is not None:
            i = ("df", "cf").index(stat)
            return {t: cached[t][i] for t in terms if t in cached}
        d = self.spark.read.parquet(f"{self.path}/dictionary").filter(
            F.col("term").isin(terms)
        )
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        rows = d.groupBy("term").agg(F.sum(stat).alias(stat)).collect()
        return {r["term"]: int(r[stat]) for r in rows}

    def term_df(self, terms: list[str], lang: str | None = None) -> dict[str, int]:
        """Document frequency per present term."""
        return self._term_stats(terms, lang, "df")

    def term_cf(self, terms: list[str], lang: str | None = None) -> dict[str, int]:
        """Collection frequency (total occurrences) per present term."""
        return self._term_stats(terms, lang, "cf")

    def _bm25_stats(
        self, terms: list[str], lang: str | None
    ) -> tuple[float, float, dict[str, int], dict[str, float]]:
        """(n, avgdl, df, idf) for scoring ``terms``; df/idf cover the
        present terms only and are empty — no lookup made — when there
        are no terms or no docs. ``term_df`` is looked up on the handle so
        a wrapper installed there sees every scoring lookup."""
        n, avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        return n, avgdl, dfs, {t: bm25_idf(n, df) for t, df in dfs.items()}

    def _sum_dl(self, lang: str | None = None) -> int:
        """Exact total token count of the (possibly lang-restricted,
        possibly time-traveled) corpus — the integer, not n*avgdl."""
        if self.as_of is not None:
            if lang is None:
                return sum(r["sum_dl"] for r in self._as_of_rows)
            return sum(
                r["per_lang"].get(lang, {"sum_dl": 0})["sum_dl"]
                for r in self._as_of_rows
            )
        if lang is None:
            return int(self.meta["sum_dl"])
        return int(self.meta["per_lang"].get(lang, {"sum_dl": 0})["sum_dl"])

    def lm_dirichlet_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        mu: float = 2000.0,
    ) -> DataFrame:
        """Dirichlet-smoothed LM top-k served from posting blocks — the
        same math as ``operators.lmsim.lm_dirichlet_scan`` (Lucene
        LMDirichletSimilarity) with cf from the dictionary and T from the
        build-time lineage stats, so the corpus is never scanned. The
        per-term ``mu * p(t|C)`` constants are computed driver-side from
        the SAME integers the scan path aggregates, hence bit-identical;
        contributions are floor-quantized then clamped then integer-summed
        (order-independent)."""
        from smse_backend_spark.operators.lmsim import lm_contrib_col

        terms = self._analyze(query_text)
        cfs = self.term_cf(terms, lang) if terms else {}
        if not cfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        t_plus_1 = float(self._sum_dl(lang)) + 1.0
        mup = {
            t: float(mu) * ((float(cf) + 1.0) / t_plus_1)
            for t, cf in cfs.items()
        }
        mup_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(mup.items()), "term string, mup double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(mup), lang))
        return (
            decoded.join(mup_df, "term")
            .withColumn(
                "cq", lm_contrib_col(F.col("tf"), F.col("dl"), F.col("mup"), mu)
            )
            .groupBy("doc_id")
            .agg((F.sum("cq").cast("double") / F.lit(1e6)).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # -- scans ------------------------------------------------------------

    def _blocks(self, terms: list[str], lang: str | None) -> DataFrame:
        from smse_backend_spark.index.build import term_bucket_py

        nb = self.meta["config"]["n_buckets"]
        buckets = sorted({term_bucket_py(t, nb) for t in terms})
        df = self.spark.read.parquet(f"{self.path}/postings").filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        if self.as_of is not None:
            # time travel: partition-pruned to the historical batches
            df = df.filter(F.col("batch") <= self.as_of)
        if lang is not None:
            df = df.filter(F.col("lang") == lang)
        return df

    def _score(
        self,
        blocks: DataFrame,
        idf: dict[str, float],
        avgdl: float,
        dl_range: tuple[int, int] | None = None,
    ) -> DataFrame:
        """Decode blocks -> unrounded (doc_id, score). ``dl_range`` is a
        FILTER-context doc-value restriction (dl is carried in every
        posting, so the filter is free post-decode; stats stay global)."""
        decoded = self._decoded(blocks)
        if dl_range is not None:
            decoded = decoded.filter(
                F.col("dl").between(int(dl_range[0]), int(dl_range[1]))
            )
        return (
            decoded.join(self._idf_df(idf), "term")
            .withColumn("contrib", F.col("idf") * _tf_norm(F.col("tf"), F.col("dl"), avgdl))
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )

    def _idf_df(self, idf: dict[str, float]) -> DataFrame:
        return F.broadcast(
            self.spark.createDataFrame(list(idf.items()), "term string, idf double")
        )

    def _decoded(self, blocks: DataFrame) -> DataFrame:
        """Blocks -> live decoded (term, doc_id, tf, dl) rows; the decode
        is widened first — compressed blocks are tiny on disk, 50-100x
        bigger decoded — so the ArrowEvalPython stage load-balances."""
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism,
                          self.meta.get("n_postings", 0) // 400_000 + 1))
        )
        return self._live(
            blocks.select("term", "first_doc", "gaps", "tfs", "dls")
            .repartition(nparts)
            .mapInPandas(_decode_map, DECODED_SCHEMA)
        )

    def boolean_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Boolean AND/OR/NOT query on the INDEX path: the same DSL and
        semantics as ``operators.boolquery.boolean_query_topk`` (score =
        positive terms only; negations filter) evaluated from posting
        blocks alone — the corpus is never scanned; cost is the matched
        postings of the query's terms. Term leaves are folded through the
        index's analyzer, and the per-doc matched-term set comes from the
        decoded postings (``collect_set``), so the predicate sees exactly
        the terms the index knows."""
        from smse_backend_spark.functions.tokenizer import stem_py
        from smse_backend_spark.operators.boolquery import (
            all_terms,
            map_terms,
            parse_bool_query,
            positive_terms,
            pred_col,
        )

        tree = parse_bool_query(query_text)
        if self.analyzer == "stem":
            tree = map_terms(tree, stem_py)
        elif self.analyzer == "synonym":
            tree = map_terms(tree, lambda t: self.synonyms.get(t, t))
        terms = sorted(all_terms(tree))
        pos = sorted(positive_terms(tree))
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        decoded = self._decoded(self._blocks(sorted(idf), lang))
        per_doc = (
            decoded.join(self._idf_df(idf), "term")
            .withColumn(
                "contrib",
                F.when(
                    F.col("term").isin(pos),
                    F.col("idf") * _tf_norm(F.col("tf"), F.col("dl"), avgdl),
                ).otherwise(F.lit(0.0)),
            )
            .groupBy("doc_id")
            .agg(
                F.round(F.sum("contrib"), 6).alias("score"),
                F.collect_set("term").alias("matched"),
            )
        )
        return (
            per_doc.filter(pred_col(tree, F.col("matched")))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def bm25_topk_range(
        self,
        query_text: str,
        dl_lo: int,
        dl_hi: int,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """BM25 top-k restricted to docs whose token count (the dl doc
        value, present in every posting) lies in [dl_lo, dl_hi] — Lucene
        FILTER context: candidates restricted, stats corpus-wide. The
        filter runs inside the decode pipeline, before any aggregation."""
        terms = self._analyze(query_text)
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        blocks = self._blocks(sorted(idf), lang)
        return self._finish(
            self._score(blocks, idf, avgdl, dl_range=(dl_lo, dl_hi)), k
        )

    # -- public API --------------------------------------------------------

    # below this many matched postings the two-phase block-max prune is a
    # net loss: its extra driver round-trips (metadata collect + seed score)
    # cost more than decoding everything in ONE single-pass job (the kernel
    # decodes >2M postings/sec/core). Above it — hot terms at billion-doc
    # scale — skipping cold segments dominates. Both paths are exact.
    PRUNE_MIN_POSTINGS = 20_000_000

    def bm25_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        return self._topk_for_terms(self._analyze(query_text), k, lang, mode)

    def expand_prefix(
        self, prefix: str, lang: str | None = None, max_expansions: int = 64
    ) -> list[str]:
        """Dictionary terms starting with ``prefix``, ranked (df desc,
        term asc) and capped — Lucene's multi-term expansion discipline.
        Served from the driver dictionary cache when the vocabulary fits;
        otherwise a dictionary scan of the two metadata columns (the same
        term-dictionary walk Lucene pays for a wildcard; posting blobs
        are never touched)."""
        if self.as_of is not None:
            raise ValueError(
                "prefix expansion uses the as-of-latest dictionary — "
                "time-travel prefix queries are not supported"
            )
        cached = self._cached_dict(lang)
        if cached is not None:
            ranked = sorted(
                ((t, df) for t, (df, _cf) in cached.items() if t.startswith(prefix)),
                key=lambda kv: (-kv[1], kv[0]),
            )
            return [t for t, _df in ranked[:max_expansions]]
        d = self.spark.read.parquet(f"{self.path}/dictionary").filter(
            F.col("term").startswith(prefix)
        )
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        rows = (
            d.groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def bm25_topk_prefix(
        self,
        prefix: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 64,
        mode: str = "auto",
    ) -> DataFrame:
        """Prefix (wildcard) search: ``prefix*`` expands against the
        dictionary and scores as the OR of the expanded terms, each with
        its own idf — the code-search symbol-prefix / autocomplete shape."""
        return self._topk_for_terms(
            self.expand_prefix(prefix, lang, max_expansions), k, lang, mode
        )

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        lang: str | None = None,
        max_expansions: int = 64,
        transpositions: bool = False,
    ) -> list[str]:
        """Dictionary terms within edit distance ``max_edits`` of
        ``term`` (the term itself included at distance 0), ranked (df desc,
        term asc) and capped — Lucene's FuzzyQuery expansion discipline
        (its automaton walk of the term dictionary), with the same
        multi-term rewrite cap. ``transpositions=True`` switches the
        metric to Damerau-Levenshtein (adjacent transposition = 1 edit,
        unrestricted — the DuckDB ``damerau_levenshtein`` metric), the
        ES FuzzyQuery default. Served from the driver dictionary cache
        when the vocabulary fits; otherwise a dictionary scan — JVM
        ``levenshtein`` expression for the plain metric, an Arrow-batched
        pandas UDF for the transposing one (posting blobs are never
        touched either way)."""
        if self.as_of is not None:
            raise ValueError(
                "fuzzy expansion uses the as-of-latest dictionary — "
                "time-travel fuzzy queries are not supported"
            )
        toks = query_terms(term)
        if len(toks) != 1:
            raise ValueError(f"fuzzy expansion takes exactly one term, got {toks!r}")
        q = toks[0]
        within = _damerau_within if transpositions else _levenshtein_within
        cached = self._cached_dict(lang)
        if cached is not None:
            ranked = sorted(
                ((t, df) for t, (df, _cf) in cached.items() if within(q, t, max_edits)),
                key=lambda kv: (-kv[1], kv[0]),
            )
            return [t for t, _df in ranked[:max_expansions]]
        d = self.spark.read.parquet(f"{self.path}/dictionary")
        if transpositions:
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("boolean")
            def _dl_ok(terms: pd.Series) -> pd.Series:
                return terms.map(lambda t: _damerau_within(q, t, max_edits))

            d = d.filter(_dl_ok(F.col("term")))
        else:
            d = d.filter(F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        rows = (
            d.groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def bm25_topk_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 64,
        mode: str = "auto",
        transpositions: bool = False,
    ) -> DataFrame:
        """Fuzzy (edit-distance) search: ``term~max_edits`` expands against
        the dictionary and scores as the OR of the expanded terms, each
        with its own idf — the typo-tolerant code-symbol lookup shape.
        ``transpositions=True`` is the ES FuzzyQuery default metric
        (Damerau-Levenshtein: a swapped adjacent pair costs 1, not 2)."""
        return self._topk_for_terms(
            self.expand_fuzzy(term, max_edits, lang, max_expansions,
                              transpositions),
            k, lang, mode,
        )

    @staticmethod
    def auto_fuzziness(term: str) -> int:
        """ES ``fuzziness: AUTO`` edit-budget ladder (AUTO:[3,6] default):
        0 edits for terms shorter than 3 chars, 1 for 3-5, 2 for 6+."""
        n = len(term)
        return 0 if n < 3 else (1 if n < 6 else 2)

    def bm25_topk_match_fuzzy(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 16,
        mode: str = "auto",
        transpositions: bool = True,
    ) -> DataFrame:
        """ES ``match`` with ``fuzziness: AUTO`` — the default every
        search box actually ships: EACH analyzed token gets its own edit
        budget from the AUTO ladder (:meth:`auto_fuzziness`), expands
        against the dictionary under that budget (df desc / term asc,
        capped PER TOKEN — FuzzyQuery's multi-term rewrite), and the
        UNION of expansions scores as one OR query, every expanded term
        with its own idf. ``transpositions=True`` (Damerau-Levenshtein)
        is the ES default. Zero-budget tokens stay exact-only.

        Scale shape: expansion is a dictionary walk per token (metadata
        only, bounded by tokens * max_expansions); the scoring pass is
        the ordinary pruned OR-query plan over the expanded term set.
        """
        seq = self._analyze(query_text)
        if not seq:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        terms: set[str] = set()
        for t in seq:
            budget = self.auto_fuzziness(t)
            if budget == 0:
                terms.add(t)
            else:
                terms.update(
                    self.expand_fuzzy(t, budget, lang, max_expansions,
                                      transpositions)
                )
        return self._topk_for_terms(sorted(terms), k, lang, mode)

    def expand_regex(
        self,
        pattern: str,
        lang: str | None = None,
        max_expansions: int = 64,
    ) -> list[str]:
        """Dictionary terms fully matching ``pattern``, ranked (df desc,
        term asc) and capped — Lucene's RegexpQuery expansion discipline.
        Patterns must stay in the RE2-compatible subset (no lookahead /
        backreferences) so the driver cache (Python ``re``), the JVM
        dictionary-scan fallback (``rlike``), and the DuckDB oracle
        (``regexp_full_match``) agree."""
        if self.as_of is not None:
            raise ValueError(
                "regex expansion uses the as-of-latest dictionary — "
                "time-travel regex queries are not supported"
            )
        import re as _re

        rx = _re.compile(pattern)
        cached = self._cached_dict(lang)
        if cached is not None:
            ranked = sorted(
                ((t, df) for t, (df, _cf) in cached.items() if rx.fullmatch(t)),
                key=lambda kv: (-kv[1], kv[0]),
            )
            return [t for t, _df in ranked[:max_expansions]]
        d = self.spark.read.parquet(f"{self.path}/dictionary").filter(
            F.col("term").rlike(f"^(?:{pattern})$")
        )
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        rows = (
            d.groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def bm25_topk_regex(
        self,
        pattern: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 64,
        mode: str = "auto",
    ) -> DataFrame:
        """Regexp search: the pattern expands against the dictionary and
        scores as the OR of the matched terms, each with its own idf —
        the code-search symbol-pattern shape (e.g. ``get_[a-z]+_id``)."""
        return self._topk_for_terms(
            self.expand_regex(pattern, lang, max_expansions), k, lang, mode
        )

    def bm25_topk_wildcard(
        self,
        pattern: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 64,
        mode: str = "auto",
    ) -> DataFrame:
        """Lucene WildcardQuery: ``*`` = any run, ``?`` = one char —
        compiled to the anchored-regex subset and expanded against the
        dictionary with the same (df desc, term asc, capped) discipline
        as every other multi-term rewrite. Everything after translation
        IS the regex path, so the wildcard family inherits its plan
        shape (dictionary walk only, posting blobs untouched until the
        final OR scoring) and its DuckDB oracle."""
        return self.bm25_topk_regex(
            wildcard_to_regex(pattern), k, lang, max_expansions, mode
        )

    def bm25_topk_bool_prefix(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 16,
        mode: str = "auto",
    ) -> DataFrame:
        """ES ``match_bool_prefix`` (the query behind search-as-you-type
        boxes when term ORDER doesn't matter): every token but the last
        is a normal OR term; the LAST token is a prefix whose dictionary
        expansions join the OR — unlike ``phrase_prefix_topk`` there is
        no adjacency requirement, so a half-typed word still matches
        docs using the words far apart. Scoring: plain BM25 sum, each
        term (fixed or expanded) with its own idf."""
        seq = self._analyze_seq(query_text)
        if not seq:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        expansions = self.expand_prefix(seq[-1], lang, max_expansions)
        terms = sorted(set(seq[:-1]) | set(expansions))
        return self._topk_for_terms(terms, k, lang, mode)

    def span_first_topk(
        self,
        term_text: str,
        end: int,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene SpanFirstQuery over a single term: the term must occur
        within the first ``end`` token positions (titles, shebang lines,
        license headers — where leading occurrence means aboutness).
        Scored like the other span queries: tf = the number of qualifying
        (position < end) occurrences, df = docs with >= 1 such span
        driving a single idf, BM25 normalization against the FULL doc
        length. Requires ``build_index(with_positions=True)``.

        Plan shape: the phrase kernel's partition-pruned positional block
        scan for ONE term — decode, count positions below the boundary,
        emit only qualifying (doc_id, stf, dl) rows; the tiny match set
        is cached for the df count exactly like :meth:`_phrase_scored`.
        """
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "span_first requires an index built with with_positions=True"
            )
        toks = self._analyze(term_text)
        if len(toks) != 1:
            raise ValueError(
                f"span_first takes exactly one term, got {toks!r}"
            )
        t = toks[0]
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        if t not in self.term_df([t], lang):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        blocks = self._blocks([t], lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        )
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_span_first_matcher(t, int(end), self._tomb_bcast),
            "doc_id long, stf long, dl long",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        matches = matches.cache()
        df_sf = matches.count()
        if df_sf == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_sf)
        scored = matches.select(
            "doc_id",
            F.round(
                F.lit(idf) * _tf_norm(F.col("stf"), F.col("dl"), avgdl), 6
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def span_multi_first_topk(
        self,
        prefix: str,
        end: int,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 64,
    ) -> DataFrame:
        """Lucene ``SpanMultiTermQueryWrapper``: a multi-term query
        (here a PREFIX) lifted into the span family — its dictionary
        expansion acts as ONE span source, composed with SpanFirstQuery
        (any expanded term within the first ``end`` positions). The
        expansion rides Lucene's ranking discipline (df desc, term asc,
        capped at ``max_expansions``) from the dictionary — metadata
        only; the span tf sums qualifying occurrences over ALL expanded
        members, span df drives one idf, BM25 against full doc length.

        Plan shape: span_first's pruned positional block scan widened to
        the expansion set; the kernel accumulates per-doc across member
        terms, so only (doc, stf, dl) survivors leave Python."""
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "span_multi requires an index built with with_positions=True"
            )
        exp = self.expand_prefix(prefix, lang, max_expansions)
        if not exp:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        blocks = self._blocks(sorted(exp), lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        )
        # co-locate every member's postings per doc (a doc's whole
        # profile lives in ONE segment) so the per-doc accumulation in
        # the kernel sees all of them — the span-near shuffle discipline
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism, 1))
        )
        blocks = blocks.repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_span_first_set_matcher(
                frozenset(exp), int(end), self._tomb_bcast
            ),
            "doc_id long, stf long, dl long",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        matches = matches.cache()
        df_sm = matches.count()
        if df_sm == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_sm)
        scored = matches.select(
            "doc_id",
            F.round(
                F.lit(idf) * _tf_norm(F.col("stf"), F.col("dl"), avgdl), 6
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def span_not_topk(
        self,
        include_text: str,
        exclude_text: str,
        dist: int = 0,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene SpanNotQuery over single-term spans: occurrences of the
        include term that are NOT within ``dist`` tokens of any exclude
        occurrence (pre == post == ``dist``; Lucene's overlap rule at
        dist=0 degenerates for distinct single terms, so a positive dist
        is the useful call — 'scan but not near table'). Scored like the
        other span queries: tf = surviving occurrences, df = docs with
        >= 1 surviving span driving a single idf, BM25 normalization
        against the FULL doc length. An absent exclude term excludes
        nothing (every include occurrence survives).

        Plan shape: the span-near pipeline for TWO terms — partition-
        pruned positional block scan, one segment shuffle co-locating
        both terms' postings per doc, vectorized nearest-exclude sweep
        in the kernel; only surviving (doc_id, stf, dl) rows leave.
        """
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "span_not requires an index built with with_positions=True"
            )
        inc_toks = self._analyze(include_text)
        exc_toks = self._analyze(exclude_text)
        if len(inc_toks) != 1 or len(exc_toks) != 1:
            raise ValueError(
                "span_not takes exactly one include and one exclude term, "
                f"got {inc_toks!r} / {exc_toks!r}"
            )
        inc, exc = inc_toks[0], exc_toks[0]
        if inc == exc:
            raise ValueError("span_not include and exclude terms must differ")
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        if inc not in self.term_df([inc], lang):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        blocks = self._blocks([inc, exc], lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        )
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism, 1))
        )
        blocks = blocks.repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_span_not_matcher(inc, exc, int(dist), self._tomb_bcast),
            "doc_id long, stf long, dl long",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        matches = matches.cache()
        df_sn = matches.count()
        if df_sn == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_sn)
        scored = matches.select(
            "doc_id",
            F.round(
                F.lit(idf) * _tf_norm(F.col("stf"), F.col("dl"), avgdl), 6
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def span_or_topk(
        self,
        terms_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``SpanOrQuery`` over single-term spans: the union of
        the member terms' occurrences scores as ONE span source — span
        tf = sum of the members' tfs per doc, span df = docs containing
        ANY member driving a single idf, BM25 normalization against the
        full doc length (the span-family scoring discipline). Differs
        from a bool OR (per-term idfs summed) and from SynonymQuery
        (df = member MAX): SpanOr's df is the df of the UNION.

        Plan shape: one postings decode for the member union, one per-doc
        partial agg (tf sum), the union df from the aggregated match set
        — no positions needed for single-term spans, so this runs on a
        non-positional index too."""
        terms = self._analyze(terms_text)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        live = sorted(set(terms))
        n, avgdl = self.corpus_stats(lang)
        if not n or not self.term_df(live, lang):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        decoded = self._decoded(self._blocks(live, lang))
        matches = (
            decoded.groupBy("doc_id")
            .agg(
                F.sum("tf").cast("long").alias("stf"),
                F.max("dl").cast("long").alias("dl"),
            )
            .cache()
        )
        df_or = matches.count()
        if df_or == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_or)
        scored = matches.select(
            "doc_id",
            F.round(
                F.lit(idf) * _tf_norm(F.col("stf"), F.col("dl"), avgdl), 6
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def common_terms_topk(
        self,
        query_text: str,
        cutoff_freq: float = 0.3,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``CommonTermsQuery`` (the pre-BM25-era stopword-free
        stopword handling, low/high_freq_operator = OR): query terms
        split by document-frequency fraction — rare (df/N <= cutoff) vs
        common (df/N > cutoff). When rare terms exist the rare OR-group
        is REQUIRED (a doc must match >= 1 rare term) and common terms
        only contribute score to docs already matching — so 'the' never
        drags in half the corpus; when every term is common the query
        degrades to a plain OR. Scoring = the standard BM25 sum over ALL
        matched query terms.

        Plan shape: the split is a driver decision from the dictionary
        dfs (metadata-only); the required set is the rare terms' decoded
        match set (small by construction — rare terms), left-semi joined
        onto the full OR scoring frame before the top-k cut."""
        terms = self._analyze(query_text)
        n, avgdl, dfs, idf = self._bm25_stats(terms, lang)
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        rare = sorted(
            t for t, df in dfs.items()
            if float(df) / float(n) <= float(cutoff_freq)
        )
        scored = self._score(self._blocks(sorted(idf), lang), idf, avgdl)
        if rare:
            req = (
                self._decoded(self._blocks(rare, lang))
                .select("doc_id").distinct()
            )
            scored = scored.join(req, "doc_id", "left_semi")
        return self._finish(scored, k)

    def span_contain_topk(
        self,
        big_text: str,
        little_text: str,
        window: int,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        mode: str = "containing",
    ) -> DataFrame:
        """Lucene ``SpanContainingQuery`` / ``SpanWithinQuery``: big =
        unordered near-span of the two ``big_text`` terms (max offset
        span <= ``window``), little = the single ``little_text`` term.
        ``containing`` returns/scores the big spans that enclose a
        little occurrence; ``within`` the little occurrences enclosed by
        a big span. Span tf = qualifying spans, span df = docs with >= 1
        qualifying span driving a single idf, BM25 normalization against
        the FULL doc length (the span_not scoring discipline).

        Plan shape: the span-near pipeline for THREE terms — partition-
        pruned positional block scan, one segment shuffle co-locating
        the terms' postings per doc, vectorized pair-lattice +
        searchsorted containment test in the kernel; only surviving
        (doc_id, stf, dl) rows leave the Python stage."""
        if mode not in ("containing", "within"):
            raise ValueError(f"unknown span_contain mode {mode!r}")
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "span_contain requires an index built with "
                "with_positions=True"
            )
        big = self._analyze(big_text)
        little = self._analyze(little_text)
        if len(big) != 2 or len(little) != 1:
            raise ValueError(
                "span_contain takes two big terms and one little term, "
                f"got {big!r} / {little!r}"
            )
        if len({*big, *little}) != 3:
            raise ValueError("span_contain terms must be distinct")
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        terms = sorted({*big, *little})
        if len(self.term_df(terms, lang)) != 3:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        blocks = self._blocks(terms, lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        )
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism, 1))
        )
        blocks = blocks.repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_span_contain_matcher(
                big[0], big[1], little[0], int(window), mode,
                self._tomb_bcast,
            ),
            "doc_id long, stf long, dl long",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        matches = matches.cache()
        df_sp = matches.count()
        if df_sp == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_sp)
        scored = matches.select(
            "doc_id",
            F.round(
                F.lit(idf) * _tf_norm(F.col("stf"), F.col("dl"), avgdl), 6
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def simple_query_string_topk(
        self,
        q: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        default_operator: str = "and",
    ) -> DataFrame:
        """ES ``simple_query_string`` served from the INDEX alone — no
        corpus scan. Rank- and score-identical to the scan twin
        (``operators.querystring.simple_query_string_topk``), so both
        share one DuckDB oracle. Per-leaf per-doc tfs come from:

        * TERM leaves — the decoded posting list;
        * PREFIX leaves — the UNCAPPED dictionary expansion's postings
          summed per doc (the scan counts every matching token, so the
          usual multi-term expansion cap would silently change presence
          semantics — the expansion here is dictionary-bounded, not
          corpus-bounded, which is exactly why it can afford to be
          uncapped);
        * PHRASE leaves — the positional kernel's (doc, phrase_tf) match
          set (requires ``with_positions=True`` when the query has a
          phrase).

        Plan shape: one partition-pruned block scan per leaf family, a
        union of tiny (doc_id, leaf, tf, dl) match frames, ONE groupBy
        pivot on doc_id, one integer stats row, constant-folded scoring —
        the corpus text is never read.
        """
        from smse_backend_spark.operators.querystring import (
            PhraseLeaf,
            PrefixLeaf,
            TermLeaf,
            _can_assert_positive,
            _pred_col,
            collect_leaves,
            parse_simple_query,
        )

        root = parse_simple_query(q, default_operator)
        if not _can_assert_positive(root):
            raise ValueError("pure-negative query matches nothing (Lucene "
                             "MatchNoDocsQuery) — add a positive clause")
        leaves, positive = collect_leaves(root)
        n, avgdl = self.corpus_stats(lang)
        empty = self.spark.createDataFrame(
            [], "doc_id long, leaf int, tf long, dl long"
        )
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)

        frames = [empty]
        for i, leaf in enumerate(leaves):
            if isinstance(leaf, TermLeaf):
                terms = [leaf.term]
            elif isinstance(leaf, PrefixLeaf):
                # uncapped: presence must equal the scan's startswith
                terms = self.expand_prefix(leaf.prefix, lang, 1 << 31)
            else:
                m = self._phrase_matches(list(leaf.terms), lang)
                if m is not None:
                    frames.append(
                        m.select(
                            "doc_id", F.lit(i).alias("leaf"),
                            F.col("ptf").cast("long").alias("tf"),
                            F.col("dl").cast("long").alias("dl"),
                        )
                    )
                continue
            if not terms or not self.term_df(terms, lang):
                continue
            dec = self._decoded(self._blocks(terms, lang))
            frames.append(
                dec.groupBy("doc_id").agg(
                    F.sum("tf").cast("long").alias("tf"),
                    F.max("dl").cast("long").alias("dl"),
                ).select("doc_id", F.lit(i).alias("leaf"), "tf", "dl")
            )
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        lf = union.groupBy("doc_id").agg(
            F.max("dl").alias("doc_len"),
            *[
                F.sum(
                    F.when(F.col("leaf") == i, F.col("tf")).otherwise(F.lit(0))
                ).alias(f"tf{i}")
                for i in range(len(leaves))
            ],
        )
        stats = lf.agg(
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
                for i in range(len(leaves))
            ]
        ).first()

        contribs = []
        present: dict = {}
        dl = F.col("doc_len")
        for i, leaf in enumerate(leaves):
            tf = F.col(f"tf{i}")
            present[leaf] = tf > 0
            if leaf not in positive:
                continue
            if isinstance(leaf, PrefixLeaf):
                c = F.when(tf > 0, F.lit(1.0)).otherwise(F.lit(0.0))
            else:
                df_i = float(stats[f"df{i}"] or 0)
                idf = bm25_idf(n, df_i)
                c = F.when(
                    tf > 0, F.lit(idf) * _tf_norm(tf, dl, avgdl)
                ).otherwise(F.lit(0.0))
            contribs.append(c)
        score = contribs[0]
        for c in contribs[1:]:
            score = score + c
        return (
            lf.filter(_pred_col(root, present))
            .select("doc_id", F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def query_string_topk(
        self,
        q: str,
        k: int = DEFAULT_TOP_K,
        default_operator: str = "or",
    ) -> DataFrame:
        """Classic Lucene ``query_string`` served from the INDEX alone —
        no corpus scan. Rank- and score-identical to the scan twin
        (``operators.luceneqs.query_string_topk``), so both share one
        DuckDB oracle. Per-leaf evidence comes from:

        * text TERM / PREFIX / WILDCARD / FUZZY leaves — decoded posting
          lists; the multi-term expansions walk the dictionary UNCAPPED
          (scan presence semantics count every matching token, so a
          rewrite cap would silently change the match set — same
          discipline as the simple_query_string index twin);
        * text PHRASE leaves — the positional kernel's (doc, phrase_tf)
          match set (requires ``with_positions=True``);
        * keyword / numeric leaves (``repo`` ``lang`` ``n_chars``
          ``doc_id``) — stored doc-values (the Lucene docvalues/points
          read), evaluated as predicates over the doc-values frame so a
          range-only ``should`` clause can match docs with zero text
          evidence, exactly like the scan.

        Plan shape: one partition-pruned block scan per text-leaf
        family, a union of tiny (doc_id, leaf, tf) match frames pivoted
        in ONE groupBy, left-joined onto the doc-values frame (columnar
        metadata — the only doc-wide read), one integer stats row,
        constant-folded scoring → ``TakeOrderedAndProject``. The corpus
        text is never touched.
        """
        from smse_backend_spark.operators.luceneqs import (
            DEFAULT_FIELD,
            LFuzzy,
            LPhrase,
            LPrefix,
            LRange,
            LTerm,
            LWildcard,
            _can_assert_positive,
            _is_scored,
            _pred_col,
            _wild_regex,
            collect_qs_leaves,
            parse_query_string,
            wild_regex_body,
        )

        root = parse_query_string(q, default_operator)
        if not _can_assert_positive(root):
            raise ValueError("pure-negative query matches nothing (Lucene "
                             "MatchNoDocsQuery) — add a positive clause")
        leaves, positive = collect_qs_leaves(root)
        n, avgdl = self.corpus_stats(None)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)

        meta_fields = sorted({
            leaf.field for leaf in leaves if leaf.field != DEFAULT_FIELD
        })
        dv_cols = ["doc_len"] + [f for f in meta_fields if f != "doc_id"]
        base = self._live(self.doc_values(dv_cols))

        empty = self.spark.createDataFrame([], "doc_id long, leaf int, tf long")
        frames = [empty]
        big = 1 << 31
        for i, leaf in enumerate(leaves):
            if leaf.field != DEFAULT_FIELD:
                continue
            if isinstance(leaf, LTerm):
                terms = [leaf.term]
            elif isinstance(leaf, LPrefix):
                terms = self.expand_prefix(leaf.prefix, None, big)
            elif isinstance(leaf, LWildcard):
                terms = self.expand_regex(
                    wild_regex_body(leaf.pattern), None, big
                )
            elif isinstance(leaf, LFuzzy):
                terms = self.expand_fuzzy(leaf.term, leaf.max_edits, None, big)
            elif isinstance(leaf, LPhrase):
                m = self._phrase_matches(list(leaf.terms), None)
                if m is not None:
                    frames.append(
                        m.select(
                            "doc_id", F.lit(i).alias("leaf"),
                            F.col("ptf").cast("long").alias("tf"),
                        )
                    )
                continue
            else:  # pragma: no cover — LRange is non-text by construction
                continue
            if not terms or not self.term_df(terms, None):
                continue
            dec = self._decoded(self._blocks(terms, None))
            frames.append(
                dec.groupBy("doc_id")
                .agg(F.sum("tf").cast("long").alias("tf"))
                .select("doc_id", F.lit(i).alias("leaf"), "tf")
            )
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        text_idx = [i for i, leaf in enumerate(leaves)
                    if leaf.field == DEFAULT_FIELD]
        pivot = union.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(F.col("leaf") == i, F.col("tf")).otherwise(F.lit(0))
                ).cast("long").alias(f"tf{i}")
                for i in text_idx
            ]
        )
        lf = base.join(pivot, "doc_id", "left").select(
            "doc_id", "doc_len",
            *[c for c in dv_cols if c != "doc_len"],
            *[
                F.coalesce(F.col(f"tf{i}"), F.lit(0)).alias(f"tf{i}")
                for i in text_idx
            ],
        )

        present: dict = {}
        for i, leaf in enumerate(leaves):
            if leaf.field == DEFAULT_FIELD:
                present[leaf] = F.col(f"tf{i}") > 0
            elif isinstance(leaf, LRange):
                c = F.col(leaf.field)
                p = F.lit(True)
                if leaf.lo is not None:
                    p = p & (c >= F.lit(leaf.lo) if leaf.incl_lo
                             else c > F.lit(leaf.lo))
                if leaf.hi is not None:
                    p = p & (c <= F.lit(leaf.hi) if leaf.incl_hi
                             else c < F.lit(leaf.hi))
                present[leaf] = p
            elif isinstance(leaf, LTerm):
                present[leaf] = F.col(leaf.field) == F.lit(leaf.term)
            elif isinstance(leaf, LWildcard):
                present[leaf] = F.col(leaf.field).rlike(
                    _wild_regex(leaf.pattern)
                )
            else:
                raise ValueError(
                    f"unsupported leaf on field {leaf.field!r}: {leaf}"
                )

        scored = [i for i, leaf in enumerate(leaves) if _is_scored(leaf)]
        stats = lf.agg(
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
                for i in scored
            ]
        ).first() if scored else {}

        contribs = []
        dl = F.col("doc_len")
        for i, leaf in enumerate(leaves):
            if leaf not in positive:
                continue
            if _is_scored(leaf):
                tf = F.col(f"tf{i}")
                df_i = float(stats[f"df{i}"] or 0)
                idf = bm25_idf(n, df_i)
                c = F.when(
                    tf > 0,
                    F.lit(leaf.boost) * (F.lit(idf) * _tf_norm(tf, dl, avgdl)),
                ).otherwise(F.lit(0.0))
            else:
                c = F.when(present[leaf], F.lit(float(leaf.boost))).otherwise(
                    F.lit(0.0)
                )
            contribs.append(c)
        score = contribs[0]
        for c in contribs[1:]:
            score = score + c
        rounded = F.floor(score * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        return (
            lf.filter(_pred_col(root, present))
            .select("doc_id", rounded.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def multi_terms_agg(
        self,
        query_text: str,
        fields: tuple[str, str] = ("lang", "repo"),
        k: int = 10,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``multi_terms`` from the index alone: the match set comes
        from postings (:meth:`match_doc_ids`), the compound key from
        stored doc-values — the corpus is never read. Identical output to
        ``operators.aggregations.multi_terms`` (shared oracle)."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values(fields)
        return (
            matches.join(vals, "doc_id")
            .groupBy(*fields)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy(F.desc("n_docs"), *[F.asc(f) for f in fields])
            .limit(k)
        )

    def sparse_vector_topk(
        self,
        query_weights: dict[str, float],
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``sparse_vector`` from the index alone: per-doc tf comes
        from the decoded postings of the query's terms, df from the
        dictionary, N from commit metadata — the doc weight
        ``tf * ln(N/df)`` is reconstructed without reading the corpus.
        Identical output to ``operators.search.sparse_vector_topk``
        (shared oracle)."""
        terms = sorted(query_weights)
        n, _avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        # w and ln(N/df) stay separate columns so the contribution is the
        # scan twin's exact (w * tf) * ln association (1-ulp discipline)
        wdf = F.broadcast(self.spark.createDataFrame(
            [(t, float(query_weights[t]), math.log(n / df))
             for t, df in dfs.items()],
            "term string, w double, lnv double",
        ))
        decoded = self._decoded(self._blocks(sorted(dfs), lang))
        contrib = F.col("w") * F.col("tf").cast("double") * F.col("lnv")
        return (
            decoded.join(wdf, "term")
            .groupBy("doc_id")
            .agg(F.round(F.sum(contrib), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def matrix_stats_agg(
        self, query_text: str, lang: str | None = None
    ) -> DataFrame:
        """ES ``matrix_stats`` from the index alone: x = the stored
        n_chars doc-value, y = the stored doc_len — both columnar
        doc-values, so neither the corpus nor the postings' text is read
        (the match set still comes from postings). Identical output to
        ``operators.aggregations.matrix_stats`` (shared oracle: doc_len
        IS len(tokenize(content)) by construction)."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values(("n_chars", "doc_len"))
        m = matches.join(vals, "doc_id").select(
            F.col("n_chars").cast("long").alias("x"),
            F.col("doc_len").cast("long").alias("y"),
        )
        row = m.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        n = F.col("n").cast("double")
        sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
        sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
        sxy = F.col("sxy").cast("double")
        var_x = (sxx - sx * sx / n) / n
        var_y = (syy - sy * sy / n) / n
        cov = (sxy - sx * sy / n) / n
        return row.select(
            F.col("n"),
            F.round(sx / n, 6).alias("mean_x"),
            F.round(sy / n, 6).alias("mean_y"),
            F.round(var_x, 6).alias("var_x"),
            F.round(var_y, 6).alias("var_y"),
            F.round(cov, 6).alias("cov_xy"),
            F.round(cov / F.sqrt(var_x * var_y), 6).alias("corr_xy"),
        )

    def percentile_ranks_agg(
        self,
        query_text: str,
        values: tuple[int, ...] = (100, 300),
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``percentile_ranks`` from the index alone (n_chars
        doc-value): one aggregate row of conditional integer counts over
        the match set — identical output to
        ``operators.aggregations.percentile_ranks``."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values(("n_chars",))
        m = matches.join(vals, "doc_id").select(
            F.col("n_chars").cast("long").alias("x")
        )
        row = m.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("x") <= F.lit(int(v))).cast("long"))
                .alias(f"c{i}")
                for i, v in enumerate(values)
            ],
        )
        pct = lambda c: (  # noqa: E731
            F.floor(
                (F.lit(100.0) * c.cast("double") / F.col("n").cast("double"))
                * F.lit(1e6) + F.lit(0.5)
            ) / F.lit(1e6)
        )
        stacked = ", ".join(
            f"{int(v)}L, p{i}" for i, v in enumerate(values)
        )
        return (
            row.select(
                *[pct(F.col(f"c{i}")).alias(f"p{i}")
                  for i in range(len(values))]
            )
            .selectExpr(f"stack({len(values)}, {stacked}) AS (value, pct)")
            .orderBy("value")
        )

    def diversified_sample_facets(
        self,
        query_text: str,
        dedup_field: str = "repo",
        shard_size: int = 3,
        facet: str = "lang",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``diversified_sampler`` + sub-agg from the index alone:
        scored matches from posting blocks, the dedup key and facet from
        stored doc-values; per-key best-``shard_size`` cap then the facet
        count over the bounded sample. Identical output to
        ``operators.aggregations.diversified_sample_facets``."""
        from pyspark.sql import Window

        scored = self.scored_matches(query_text, lang)
        attrs = self.doc_values((dedup_field, facet))
        w = Window.partitionBy(dedup_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        sample = (
            scored.join(attrs, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(shard_size))
        )
        return (
            sample.groupBy(facet)
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc(facet))
        )

    def sliced_hits(
        self,
        query_text: str,
        slice_id: int,
        max_slices: int,
        n: int = 1000,
        lang: str | None = None,
    ) -> DataFrame:
        """ES sliced scroll / point-in-time ``slice`` — the parallel-export
        API: worker ``slice_id`` of ``max_slices`` processes only the hits
        whose id-hash lands in its residue class (ES slices on a hash of
        ``_id`` modulo ``max``), so the K slices PARTITION the match set —
        pairwise disjoint, union = every hit (property-tested). The match
        set is the conjunctive (AND) query; rows come back in ``doc_id``
        order — the export ordering, NOT score order — ``n`` per call.
        The hash is the repo's sha256-derived u60 (engine-, SQL- and
        python-identical), salted separately from the split/sample salts.

        Scale shape: the msm segment prune applies (a segment missing any
        term hosts no hit); only (term, doc_id) pairs decode — no scores,
        no positions; the slice filter is a map-side predicate, so each
        export worker shuffles ~1/max_slices of the hits.
        """
        from smse_backend_spark.operators.sampling import hash_u60

        if not (0 <= int(slice_id) < int(max_slices)):
            raise ValueError("slice_id must be in [0, max_slices)")
        terms = sorted(set(self._analyze(query_text)))
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, slice int")
        dfs = self.term_df(terms, lang)
        if any(t not in dfs for t in terms):
            return self.spark.createDataFrame([], "doc_id long, slice int")
        m = len(terms)
        blocks = self._blocks(terms, lang)
        if m > 1:
            qual = (
                blocks.groupBy("segment")
                .agg(F.count_distinct("term").alias("nt"))
                .filter(F.col("nt") >= m)
                .select("segment")
            )
            blocks = blocks.join(qual, "segment", "left_semi")
        decoded = blocks.select(
            "term", "first_doc", "gaps", "tfs", "dls"
        ).mapInPandas(_decode_map, DECODED_SCHEMA)
        matches = (
            decoded.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
            .filter(F.col("nt") == m)
            .select("doc_id")
        )
        self._load_tombs()
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        h = hash_u60(F.col("doc_id"), SLICE_SALT) % int(max_slices)
        return (
            matches.filter(h == int(slice_id))
            .select("doc_id", F.lit(int(slice_id)).alias("slice"))
            .orderBy("doc_id")
            .limit(int(n))
        )

    def bm25_topk_msm(
        self,
        query_text: str,
        min_match: int | None = None,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """BM25 with a minimum-should-match constraint: only docs matching
        at least ``min_match`` of the query's distinct terms qualify
        (``min_match=None`` -> ALL terms, i.e. a conjunctive AND query).
        Scoring is unchanged from the OR query — global idf, sum over the
        doc's matched terms (Lucene's BooleanQuery.minimumNumberShouldMatch
        semantics: the constraint filters, it never rescores).

        Scale shape: segments are disjoint doc-id ranges, so a doc's whole
        term profile lives in ONE segment — a segment containing fewer than
        ``min_match`` of the query terms cannot host a qualifying doc. A
        metadata-only pass over (segment, term) prunes those segments
        before any posting blob is decoded; at AND semantics on selective
        terms this skips nearly the whole posting list of the hot term.
        """
        terms = self._analyze(query_text)
        m = len(terms) if min_match is None else min_match
        if m <= 1:
            return self._topk_for_terms(terms, k, lang, "auto")
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        if len(idf) < m:  # fewer terms exist than the constraint demands
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        blocks = self._blocks(sorted(idf), lang)
        qual = (
            blocks.groupBy("segment")
            .agg(F.count_distinct("term").alias("nt"))
            .filter(F.col("nt") >= m)
            .select("segment")
        )
        decoded = self._decoded(blocks.join(qual, "segment", "left_semi"))
        scored = (
            decoded.join(self._idf_df(idf), "term")
            .withColumn(
                "contrib", F.col("idf") * _tf_norm(F.col("tf"), F.col("dl"), avgdl)
            )
            .groupBy("doc_id")
            .agg(
                F.sum("contrib").alias("score"),
                F.count(F.lit(1)).alias("nmatch"),
            )
            .filter(F.col("nmatch") >= m)
        )
        return self._finish(scored, k)

    def bm25_topk_boosted(
        self,
        boosts: dict[str, float],
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Per-term boosted query (Lucene ``term^boost``): each term's BM25
        contribution is multiplied by its boost. Implemented by scaling the
        idf weights before scoring — zero extra plan cost over the plain OR
        query (the scoring kernels are linear in idf)."""
        per_term: dict[str, float] = {}
        for raw, w in boosts.items():
            for t in self._analyze(raw):
                per_term[t] = float(w)
        _, avgdl, _, idf = self._bm25_stats(sorted(per_term), lang)
        scaled = {t: per_term[t] * w for t, w in idf.items()}
        if not scaled:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        scored = self._score(self._blocks(sorted(scaled), lang), scaled, avgdl)
        return self._finish(scored, k)

    def bm25_topk_synonyms(
        self,
        groups: list[list[str] | str],
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Synonym-group query (Lucene ``SynonymQuery``): each group of
        terms scores as ONE pseudo-term — tf is the SUM of the group's
        term frequencies in the doc, idf comes from the MAX document
        frequency over the group (Lucene's blended docFreq; no union-
        distinct pass needed, which also keeps the plan one decode +
        one aggregation at any scale). Groups must be disjoint.

        Plan: one partition-pruned decode of all groups' postings, a
        broadcast (term -> group, group idf) map join, then a single
        two-level aggregation (doc,group)->doc; the second shuffle keys
        on a prefix of the first, so AQE coalesces it cheaply."""
        norm: list[list[str]] = []
        for g in groups:
            raws = g if isinstance(g, (list, tuple)) else [g]
            terms = sorted({t for raw in raws for t in self._analyze(raw)})
            if terms:
                norm.append(terms)
        flat = [t for g in norm for t in g]
        if len(flat) != len(set(flat)):
            raise ValueError(f"synonym groups must be disjoint, got {norm!r}")
        n, avgdl, dfs, _ = self._bm25_stats(sorted(flat), lang)
        rows = []  # (term, gid, group idf)
        for gi, g in enumerate(norm):
            present = [t for t in g if t in dfs]
            if not present:
                continue
            gidf = bm25_idf(n, max(dfs[t] for t in present))
            rows.extend((t, gi, gidf) for t in present)
        if not rows:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        gmap = F.broadcast(
            self.spark.createDataFrame(rows, "term string, gid int, idf double")
        )
        decoded = self._decoded(self._blocks(sorted(r[0] for r in rows), lang))
        scored = (
            decoded.join(gmap, "term")
            .groupBy("doc_id", "gid")
            .agg(
                F.sum("tf").alias("tf"),
                F.first("dl").alias("dl"),
                F.first("idf").alias("idf"),
            )
            .withColumn(
                "contrib", F.col("idf") * _tf_norm(F.col("tf"), F.col("dl"), avgdl)
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
        return self._finish(scored, k)

    def bm25_topk_filtered(
        self,
        query_text: str,
        must_not: list[str] | tuple[str, ...] = (),
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """BM25 with MUST_NOT terms: docs containing ANY excluded term are
        dropped from the result; idf / corpus stats stay GLOBAL (Lucene's
        filter semantics — a query-time filter never changes scoring).

        Plan: normal exhaustive scoring, plus one decode of the excluded
        terms' (partition-pruned) postings reduced to a distinct doc set,
        anti-joined BEFORE the top-k cut."""
        terms = self._analyze(query_text)
        ex_terms = sorted({t for raw in must_not for t in self._analyze(raw)})
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        scored = self._score(self._blocks(sorted(idf), lang), idf, avgdl)
        if ex_terms:
            excl = (
                self._blocks(ex_terms, lang)
                .select("term", "first_doc", "gaps", "tfs", "dls")
                .mapInPandas(_decode_map, DECODED_SCHEMA)
                .select("doc_id")
                .distinct()
            )
            scored = scored.join(excl, "doc_id", "left_anti")
        return self._finish(scored, k)

    def delete_by_query(
        self, query_text: str, lang: str | None = None
    ) -> dict:
        """ES ``_delete_by_query``: tombstone every live doc matching the
        query (OR semantics, the same match set ``match_doc_ids`` serves).
        Soft-delete semantics follow Lucene: stats keep counting the
        deleted docs until compaction. Returns the tombstone commit row.

        Scale shape: the match set is a doc_id-only frame decoded from
        partition-pruned postings and handed to ``delete_docs`` AS a
        DataFrame — no driver materialization of the id list, so a query
        matching billions of docs commits without collecting them."""
        from smse_backend_spark.index.deletes import delete_docs

        ids = self.match_doc_ids(query_text, lang)
        row = delete_docs(self.spark, self.path, ids)
        # this handle's tombstone cache is stale now — reload lazily
        self._tomb_loaded = False
        self._tomb_bcast = None
        self._tomb_df = None
        return row

    def bm25_topk_boosting(
        self,
        query_text: str,
        negative: list[str] | tuple[str, ...],
        negative_boost: float = 0.5,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES/Lucene ``boosting`` query: docs matching any NEGATIVE term
        are demoted (score x ``negative_boost``), not excluded — the
        soft counterpart of MUST_NOT. Stats stay global; the negative
        side never contributes to scoring, only to the multiplier.

        Plan: the normal scoring pass plus one decode of the negative
        terms' partition-pruned postings reduced to a distinct doc set,
        LEFT-joined before the top-k cut; the final value goes through
        the shared half-up floor formula (written identically in the
        DuckDB twin) AFTER the multiplier, so demoted and undemoted
        scores round in one discipline."""
        terms = self._analyze(query_text)
        neg_terms = sorted({t for raw in negative for t in self._analyze(raw)})
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        scored = self._score(self._blocks(sorted(idf), lang), idf, avgdl)
        factor = F.lit(1.0)
        if neg_terms:
            neg = (
                self._blocks(neg_terms, lang)
                .select("term", "first_doc", "gaps", "tfs", "dls")
                .mapInPandas(_decode_map, DECODED_SCHEMA)
                .select("doc_id")
                .distinct()
                .withColumn("neg", F.lit(1))
            )
            scored = scored.join(neg, "doc_id", "left")
            factor = F.when(
                F.col("neg").isNotNull(), F.lit(float(negative_boost))
            ).otherwise(F.lit(1.0))
        return (
            scored.select(
                "doc_id",
                (
                    F.floor((F.col("score") * factor) * 1e6 + F.lit(0.5)) / 1e6
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _phrase_matches(
        self, terms: list[str], lang: str | None = None
    ) -> DataFrame | None:
        """Raw exact-phrase match set (doc_id, ptf, dl) for an ordered
        term list, or ``None`` when a term is absent from the dictionary
        (no doc can match). Shared by phrase, rescore, and phrase-prefix."""
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "phrase search requires an index built with with_positions=True"
            )
        dfs = self.term_df(sorted(set(terms)), lang)
        if any(t not in dfs for t in terms):
            return None
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism,
                          sum(dfs.values()) // 200_000 + 1))
        )
        blocks = self._blocks(sorted(set(terms)), lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        ).repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_phrase_matcher(terms, self._tomb_bcast),
            "doc_id long, ptf long, dl long",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        return matches

    def _phrase_scored(
        self, phrase_text: str, lang: str | None = None
    ) -> DataFrame:
        """Rounded (doc_id, score) for EVERY doc containing the exact
        phrase (no top-k cut) — the match-set kernel shared by
        :meth:`phrase_topk` and :meth:`rescore_phrase_topk`."""
        # ordered, duplicates preserved, folded through the index-time
        # analyzer (stemmed positional indexes store stemmed term space;
        # positions are unaffected by the 1:1 stem map)
        terms = self._analyze_seq(phrase_text)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        matches = self._phrase_matches(terms, lang)
        if matches is None:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        # cache: the match set feeds both the phrase-df count and the
        # scored output (it is tiny — only docs containing the full phrase)
        matches = matches.cache()
        df_p = matches.count()
        if df_p == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_p)
        return matches.select(
            "doc_id",
            F.round(
                F.lit(idf) * _tf_norm(F.col("ptf"), F.col("dl"), avgdl), 6
            ).alias("score"),
        )

    def phrase_topk(
        self, phrase_text: str, k: int = DEFAULT_TOP_K, lang: str | None = None
    ) -> DataFrame:
        """Exact phrase search over a positional index: docs containing the
        phrase's tokens at consecutive offsets, BM25-scored on the PHRASE
        frequency (phrase df drives the idf). Requires
        ``build_index(with_positions=True)``.

        Plan shape: the same partition-pruned block scan as a term query
        (plus the ``poss`` blobs), shuffled once by segment so a doc's
        postings for every phrase term co-locate; adjacency is verified in
        a vectorized kernel via sorted-array membership; only (doc_id,
        phrase_tf, dl) matches leave the kernel.
        """
        return (
            self._phrase_scored(phrase_text, lang)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def phrase_slop_topk(
        self,
        phrase_text: str,
        slop: int,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``match_phrase`` with ``slop`` — Lucene's SLOPPY phrase, NOT
        a span-near filter: the ``SloppyPhraseMatcher`` queue algorithm
        accumulates a fractional phrase frequency ``sum 1/(1+matchLength)``
        over the matches it discovers (see :func:`_sloppy_phrase_freq`),
        and the doc is BM25-scored on that frequency with the SUM of the
        phrase terms' idfs (Lucene ``PhraseWeight`` passes all terms'
        stats to the similarity). slop=0 degenerates to the exact phrase
        count — asserted against :meth:`phrase_topk`'s match kernel in
        tests. Non-repeating phrases only (Lucene's repeats path is a
        structurally different algorithm; rejected explicitly).

        Plan shape: identical to :meth:`phrase_topk` — partition-pruned
        positional block scan, ONE segment shuffle co-locating each doc's
        postings, the queue sweep runs per doc over decoded numpy arrays;
        only (doc_id, freq, dl) matches leave Python.
        """
        terms = self._analyze_seq(phrase_text)
        if len(terms) < 2:
            raise ValueError("phrase_slop_topk needs >= 2 tokens")
        if len(set(terms)) != len(terms):
            raise ValueError(
                "phrase_slop_topk supports non-repeating phrases only "
                "(Lucene's repeats-aware matcher is a different algorithm)"
            )
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "phrase search requires an index built with with_positions=True"
            )
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        dfs = self.term_df(sorted(terms), lang)
        if any(t not in dfs for t in terms):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        # sum of per-term idfs, accumulated in PHRASE order (the oracle
        # writes the same left-associated chain — bit-identical)
        idf_sum = 0.0
        for t in terms:
            idf_sum += bm25_idf(n, dfs[t])
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism,
                          sum(dfs.values()) // 200_000 + 1))
        )
        blocks = self._blocks(sorted(terms), lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        ).repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_sloppy_phrase_matcher(terms, int(slop), self._tomb_bcast),
            "doc_id long, freq double, dl long",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        return (
            matches.select(
                "doc_id",
                F.round(
                    F.lit(idf_sum)
                    * _tf_norm(F.col("freq"), F.col("dl"), avgdl),
                    6,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def phrase_prefix_topk(
        self,
        phrase_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 8,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (search-as-you-type): the last token
        is a prefix, expanded from the term dictionary (df desc, term asc,
        capped at ``max_expansions`` — Lucene's multi-term discipline);
        a doc matches if the fixed tokens are immediately followed by ANY
        expansion. Blended frequency = the total count of such windows
        (expansions are distinct terms, so per-expansion phrase counts
        partition the windows and their sum is exact); blended df = docs
        matching any expansion; one idf over the blend — the multi-term
        "synonym at the last position" model.

        Scale shape: the dictionary walk never touches postings; each
        expansion's match set is the same partition-pruned positional
        kernel as :meth:`phrase_topk` (bounded by ``max_expansions``,
        typically <= 8 in search-as-you-type); the union is tiny (only
        full-phrase matches leave the kernels)."""
        terms = self._analyze_seq(phrase_text)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        fixed, prefix = terms[:-1], terms[-1]
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        mats = []
        for e in self.expand_prefix(prefix, lang, max_expansions):
            m = self._phrase_matches(fixed + [e], lang)
            if m is not None:
                mats.append(m)
        if not mats:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        allm = mats[0]
        for m in mats[1:]:
            allm = allm.unionByName(m)
        agg = (
            allm.groupBy("doc_id")
            .agg(F.sum("ptf").alias("ptf"), F.max("dl").alias("dl"))
            .cache()
        )
        df_p = agg.count()
        if df_p == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = bm25_idf(n, df_p)
        return (
            agg.select(
                "doc_id",
                F.round(
                    F.lit(idf) * _tf_norm(F.col("ptf"), F.col("dl"), avgdl), 6
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def rescore_phrase_topk(
        self,
        query_text: str,
        phrase_text: str,
        window_size: int = 30,
        weight: float = 2.0,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``rescore`` API: re-rank the top ``window_size`` BM25 hits by
        adding ``weight`` x the exact-phrase BM25 score (ES's default
        ``total`` combine with query_weight=1). Docs outside the window
        cannot enter the top-k — rescoring is a second, more expensive
        pass over a small fixed window, never a corpus re-scan.

        Scale shape: the base window is one postings decode ending in a
        global top-w (w rows to the driver — same bounded-cursor
        discipline as keyset pagination); the phrase pass decodes only
        the phrase terms' positional postings and is pre-filtered to the
        window's doc ids by a broadcast semi-join, so at most w phrase
        rows survive; the final combine is a w-row broadcast join. The
        combined score uses the half-up floor formula so Spark and the
        DuckDB oracle round the identical double identically."""
        base = self.scored_matches(query_text, lang)
        rows = (
            base.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(window_size))
            .collect()
        )
        if not rows:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        win = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in rows],
            "doc_id long, score double",
        )
        ph = self._phrase_scored(phrase_text, lang).withColumnRenamed(
            "score", "pscore"
        )
        ids = F.broadcast(win.select("doc_id"))
        ph_w = ph.join(ids, "doc_id")  # <= window_size survivors
        return (
            win.join(F.broadcast(ph_w), "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.floor(
                        (
                            F.col("score")
                            + F.lit(float(weight))
                            * F.coalesce(F.col("pscore"), F.lit(0.0))
                        )
                        * 1e6
                        + F.lit(0.5)
                    )
                    / 1e6
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def near_topk(
        self,
        query_text: str,
        window: int,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        in_order: bool = False,
    ) -> DataFrame:
        """Span-near (proximity) search over a positional index: docs where
        every distinct query term occurs AND some choice of one occurrence
        per term spans at most ``window`` tokens (``in_order=True`` adds
        Lucene's SpanNearQuery order constraint: the picked occurrences
        must be strictly increasing in query order). Proximity is a filter;
        scoring stays the standard BM25 sum (global idf, full doc tf) over
        the query terms — so results are the conjunctive-query scores
        restricted to proximity-satisfying docs.

        Plan shape: identical to :meth:`phrase_topk` — partition-pruned
        positional block scan, one segment shuffle co-locating each doc's
        postings for all terms, vectorized window sweep in the kernel.
        """
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "near_topk requires an index built with with_positions=True"
            )
        # the in-order constraint is over the QUERY's token sequence —
        # order and duplicates preserved (Lucene SpanNearQuery clause
        # order), NOT the sorted/deduped BM25 term set — folded through
        # the index-time analyzer.
        seq = self._analyze_seq(query_text)
        terms = sorted(set(seq))
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        _, avgdl, dfs, idf = self._bm25_stats(terms, lang)
        if any(t not in dfs for t in terms):  # also true when no docs
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism,
                          sum(dfs.values()) // 200_000 + 1))
        )
        blocks = self._blocks(terms, lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        ).repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_near_matcher(seq if in_order else terms, window, idf,
                               avgdl, self._tomb_bcast, in_order),
            "doc_id long, score double",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        return self._finish(matches, k)

    def intervals_topk(
        self,
        query_text: str,
        max_gaps: int = 0,
        ordered: bool = True,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``intervals`` query (``match`` rule with ``max_gaps`` /
        ``ordered``): docs containing an interval of the query terms with
        at most ``max_gaps`` positions of slack between them. Lucene's
        criterion — interval width minus term count <= max_gaps — is
        EXACTLY the span-near window ``p_last - p_first <= max_gaps +
        n_terms - 1``, so this is the intervals facade over the same
        positional kernel (one derivation, one code path, no semantic
        fork); scoring follows the span discipline (conjunctive BM25
        restricted to the interval match set)."""
        seq = self._analyze_seq(query_text)
        n_terms = len(seq) if ordered else len(set(seq))
        if n_terms == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        window = int(max_gaps) + n_terms - 1
        return self.near_topk(query_text, window, k, lang, in_order=ordered)

    def intervals_allof_topk(
        self,
        sources: list[list[str] | tuple[str, ...]],
        max_gaps: int = 0,
        ordered: bool = True,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Compositional ES ``intervals`` query: ``all_of`` (``ordered`` /
        ``max_gaps``) over sub-sources, each a single term or an
        ``any_of`` of terms (the alternatives' occurrences UNION into one
        position list — width-1 match intervals, so Lucene's
        width-minus-terms gap law reduces to the span-near window
        ``max_gaps + n_sources - 1``, same derivation as
        :meth:`intervals_topk`). A doc matches when one occurrence per
        source fits the window (ordered: strictly increasing in source
        order). Scoring follows the span discipline — conjunctive BM25
        (global idf, full doc tf) over the distinct member terms PRESENT
        in the matching doc; absent alternatives contribute nothing.

        Plan shape: identical to :meth:`near_topk` — partition-pruned
        positional block scan over the UNION of member terms, one
        segment shuffle, vectorized union + window sweep in the kernel.
        """
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "intervals_allof_topk requires an index built with "
                "with_positions=True"
            )
        srcs = [tuple(dict.fromkeys(s)) for s in sources if s]
        if not srcs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        all_terms = sorted({t for s in srcs for t in s})
        dfs = self.term_df(all_terms, lang)
        # prune alternatives absent from the corpus; an all_of clause
        # with NO surviving alternative can never match
        srcs = [tuple(t for t in s if t in dfs) for s in srcs]
        if any(not s for s in srcs):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        terms = sorted({t for s in srcs for t in s})
        idf = {t: bm25_idf(n, dfs[t]) for t in terms}
        window = int(max_gaps) + len(srcs) - 1
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism,
                          sum(dfs[t] for t in terms) // 200_000 + 1))
        )
        blocks = self._blocks(terms, lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        ).repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_interval_sets_matcher(
                srcs, window, idf, avgdl, self._tomb_bcast, ordered
            ),
            "doc_id long, score double",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        return self._finish(matches, k)

    def intervals_not_containing_topk(
        self,
        sources: list[list[str] | tuple[str, ...]],
        filter_terms: list[str] | tuple[str, ...],
        max_gaps: int = 0,
        ordered: bool = True,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``intervals`` query with a ``filter.not_containing`` rule:
        :meth:`intervals_allof_topk` restricted to docs where some valid
        interval's span contains NO occurrence of any ``filter_terms``
        member (the filter interval is the any_of union of their
        occurrences). This is exactly Lucene's minimal-interval filter
        semantics: an exclude-free valid combo always contains an
        exclude-free minimal interval and vice versa, so the
        exists-combo formulation the kernel (and the SQL twin) evaluates
        is equivalent. Scoring is unchanged — conjunctive BM25 over the
        distinct SOURCE member terms present; filter terms are decoded
        but never scored and never perturb df/idf.

        Plan shape: the :meth:`intervals_allof_topk` plan with the
        filter terms' postings added to the same partition-pruned block
        scan; the exclusion is evaluated inside the vectorized kernel
        (per-doc segment-sliced cover sweep), so no extra shuffle or
        join appears."""
        if not self.meta["config"].get("with_positions"):
            raise ValueError(
                "intervals_not_containing_topk requires an index built "
                "with with_positions=True"
            )
        srcs = [tuple(dict.fromkeys(s)) for s in sources if s]
        fterms = sorted({t for t in filter_terms})
        if not srcs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        all_terms = sorted({t for s in srcs for t in s} | set(fterms))
        dfs = self.term_df(all_terms, lang)
        srcs = [tuple(t for t in s if t in dfs) for s in srcs]
        if any(not s for s in srcs):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        live_f = tuple(t for t in fterms if t in dfs)
        terms = sorted({t for s in srcs for t in s})
        idf = {t: bm25_idf(n, dfs[t]) for t in terms}
        window = int(max_gaps) + len(srcs) - 1
        read = sorted(set(terms) | set(live_f))
        nparts = int(
            min(1024, max(self.spark.sparkContext.defaultParallelism,
                          sum(dfs[t] for t in read) // 200_000 + 1))
        )
        blocks = self._blocks(read, lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls", "poss"
        ).repartition(nparts, "segment")
        self._load_tombs()
        matches = blocks.mapInPandas(
            _make_interval_sets_matcher(
                srcs, window, idf, avgdl, self._tomb_bcast, ordered,
                excludes=live_f,
            ),
            "doc_id long, score double",
        )
        if self._tomb_df is not None:
            matches = matches.join(self._tomb_df, "doc_id", "left_anti")
        return self._finish(matches, k)

    def intervals_prefix_topk(
        self,
        sources: list,
        max_gaps: int = 0,
        ordered: bool = True,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        max_expansions: int = 128,
    ) -> DataFrame:
        """ES ``intervals`` multi-term rules (``prefix`` / ``wildcard`` /
        ``fuzzy``) as ``all_of`` sources: a source written
        ``"prefix:sc"``, ``"wildcard:sc?n"`` or ``"fuzzy:scna"`` expands
        against the dictionary and the expansion acts as ONE ``any_of``
        source (its members' occurrences union into one position list).
        The fuzzy budget is the AUTO ladder with ES's transpositions
        default. ES caps each internal expansion at 128 terms and
        REJECTS the query beyond it — same here (so the uncapped
        corpus-side oracle stays exact: every matching dictionary term
        is in the expansion). Everything else is
        :meth:`intervals_allof_topk`."""
        cap = int(max_expansions)
        expanded: list[list[str]] = []
        for s in sources:
            if isinstance(s, str) and ":" in s:
                kind, _, arg = s.partition(":")
                if kind == "prefix":
                    exp = self.expand_prefix(arg, lang, cap + 1)
                elif kind == "wildcard":
                    exp = self.expand_regex(
                        wildcard_to_regex(arg), lang, cap + 1
                    )
                elif kind == "fuzzy":
                    exp = self.expand_fuzzy(
                        arg, self.auto_fuzziness(arg), lang, cap + 1,
                        transpositions=True,
                    )
                else:
                    raise ValueError(f"unknown intervals rule {kind!r}")
                if len(exp) > cap:
                    raise ValueError(
                        f"intervals {kind} {arg!r} expands past "
                        f"{cap} terms (the ES limit)"
                    )
                expanded.append(exp)
            elif isinstance(s, str):
                raise ValueError(
                    f"string source {s!r} must be 'prefix:...', "
                    "'wildcard:...' or 'fuzzy:...' (exact terms go in a list)"
                )
            else:
                expanded.append(list(s))
        return self.intervals_allof_topk(expanded, max_gaps, ordered, k, lang)

    def explain_scores(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Score explanation (Lucene ``explain()``): for each top-k doc,
        one row per matched term with the inputs of its BM25 contribution
        — (doc_id, term, tf, idf, contrib, score). idf/contrib are
        floored-half-rounded to 6dp (the cross-engine-exact convention);
        score is the doc's rounded total, repeated per row.

        Plan: the same one-decode pipeline as the exhaustive query; the
        k-row top-k frame broadcasts back onto the contribution rows, so
        explaining costs one extra broadcast join over scoring."""
        terms = self._analyze(query_text)
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        empty = "doc_id long, term string, tf long, idf double, contrib double, score double"
        if not idf:
            return self.spark.createDataFrame([], empty)
        decoded = self._decoded(self._blocks(sorted(idf), lang))
        contribs = decoded.join(self._idf_df(idf), "term").withColumn(
            "contrib", F.col("idf") * _tf_norm(F.col("tf"), F.col("dl"), avgdl)
        )
        totals = contribs.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
        top = F.broadcast(self._finish(totals, k))

        def six(c):
            return F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)

        return (
            contribs.join(top, "doc_id")
            .select(
                "doc_id",
                "term",
                F.col("tf").cast("long").alias("tf"),
                six(F.col("idf")).alias("idf"),
                six(F.col("contrib")).alias("contrib"),
                "score",
            )
            .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("term"))
        )

    def match_doc_ids(
        self, query_text: str, lang: str | None = None
    ) -> DataFrame:
        """Distinct live doc_ids matching ANY query term — the raw OR match
        set, decoded from the partition-pruned postings (no scoring)."""
        terms = self._analyze(query_text)
        dfs = self.term_df(terms, lang) if terms else {}
        if not dfs:
            return self.spark.createDataFrame([], "doc_id long")
        return self._live(
            self._blocks(sorted(dfs), lang)
            .select("term", "first_doc", "gaps", "tfs", "dls")
            .mapInPandas(_decode_map, DECODED_SCHEMA)
            .select("doc_id")
            .distinct()
        )

    def count_matches(
        self, query_text: str, lang: str | None = None
    ) -> DataFrame:
        """Total-hit count: one row ``(n_hits)`` — the number of live docs
        matching >= 1 query term (Lucene TotalHitCountCollector). Single-
        term counts could come straight from the dictionary df, but deletes
        make decode-and-distinct the always-correct path; it reads only the
        matched terms' partition-pruned blocks."""
        return self.match_doc_ids(query_text, lang).agg(
            F.count(F.lit(1)).alias("n_hits")
        )

    def facet_counts(
        self,
        corpus: DataFrame,
        query_text: str,
        facet_cols: tuple[str, ...] = ("lang", "repo"),
        lang: str | None = None,
    ) -> DataFrame:
        """Facet aggregation over a query's OR match set: doc counts per
        combination of ``facet_cols`` values, ordered (n_docs desc, facet
        values asc) — the search-results sidebar shape.

        Plan: the match set (small: doc_ids only) shuffle-joins the corpus
        projection on doc_id — the corpus scan reads ONLY doc_id + facet
        columns (column pruning), then a partial-agg count per facet value.
        """
        matches = self.match_doc_ids(query_text, lang)
        facets = corpus.select("doc_id", *facet_cols)
        order = [F.desc("n_docs")] + [F.asc(c) for c in facet_cols]
        return (
            matches.join(facets, "doc_id")
            .groupBy(*facet_cols)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(*order)
        )

    # -- doc-values-backed retrieval variants --------------------------------
    #
    # Everything below runs WITHOUT touching the corpus at query time: BM25
    # scores come from the posting blocks, per-document attributes from the
    # columnar doc-values stored at build time (build_index(docvalues=...) —
    # the Lucene doc-values analog; lang/doc_len are always stored). These
    # are the index-path twins of the scan-mode variants in
    # operators/search.py and are rank-identical to them.

    def doc_values(self, cols: tuple[str, ...] | list[str]) -> DataFrame:
        """Column-pruned doc-values read: (doc_id, *cols) from the index's
        docstats component. ``lang`` and ``doc_len`` are always stored;
        anything else must have been listed in ``build_index(docvalues=)``.
        Honors time travel (batch partition pruning)."""
        stored = {"lang", "doc_len", *self.meta["config"].get("docvalues", ())}
        missing = [c for c in cols if c not in stored]
        if missing:
            raise ValueError(
                f"doc-values {missing} not stored in this index — rebuild "
                f"with build_index(..., docvalues={sorted(missing)})"
            )
        df = self.spark.read.parquet(f"{self.path}/docstats")
        if self.as_of is not None:
            df = df.filter(F.col("batch") <= self.as_of)
        return df.select("doc_id", *cols)

    def term_vectors(
        self, doc_ids: list[int], lang: str | None = None
    ) -> DataFrame:
        """Per-document term vectors from the index: (doc_id, term, tf, df)
        — the Elasticsearch ``_termvectors`` analog, served without touching
        the corpus.

        Scale shape: postings are segment-partitioned by doc-id range, so
        the read prunes to the target docs' segments and then to blocks
        whose ``[first_doc, last_doc]`` span covers a requested id BEFORE
        any decode — decode volume is bounded by the pruned segments,
        independent of corpus size. ``df`` comes from the dictionary
        (driver cache / pruned read), shipped back as one broadcast join;
        the distinct-term collect is bounded by the requested docs'
        vocabulary.
        """
        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            raise ValueError("term_vectors needs at least one doc_id")
        seg_size = self.meta["config"]["segment_size"]
        segs = sorted({d // seg_size for d in ids})
        blocks = self.spark.read.parquet(f"{self.path}/postings").filter(
            F.col("segment").isin(segs)
        )
        if self.as_of is not None:
            blocks = blocks.filter(F.col("batch") <= self.as_of)
        if lang is not None:
            blocks = blocks.filter(F.col("lang") == lang)
        span = None
        for d in ids:
            c = (F.col("first_doc") <= d) & (F.col("last_doc") >= d)
            span = c if span is None else (span | c)
        decoded = self._decoded(blocks.filter(span)).filter(
            F.col("doc_id").isin(ids)
        )
        terms = [r["term"] for r in decoded.select("term").distinct().collect()]
        dfs = self.term_df(terms, lang)
        df_tbl = F.broadcast(
            self.spark.createDataFrame(
                [(t, int(v)) for t, v in dfs.items()], "term string, df long"
            )
        )
        return decoded.join(df_tbl, "term").select(
            "doc_id", "term", F.col("tf").cast("long").alias("tf"), "df"
        )

    def scored_matches(
        self, query_text: str, lang: str | None = None
    ) -> DataFrame:
        """The FULL rounded BM25 match set (doc_id, score) from posting
        blocks alone — the index-path twin of
        ``operators.search.bm25_scored_scan`` (sans nmatch). Cost is the
        matched postings of the query's terms; the corpus is never read."""
        terms = self._analyze(query_text)
        _, avgdl, _, idf = self._bm25_stats(terms, lang)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        scored = self._score(self._blocks(sorted(idf), lang), idf, avgdl)
        return scored.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_topk_after(
        self,
        query_text: str,
        cursor: tuple[float, int] | None,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Keyset pagination (``search_after``) on the index path: the k
        best hits strictly after the (score, doc_id) cursor in
        (score desc, doc_id asc) order; ``cursor=None`` returns page 1.

        One postings decode per page, the cursor predicate rides the same
        pipeline before the top-k cut, and the plan ends in
        ``TakeOrderedAndProject`` — no OFFSET, no localCheckpoint, no
        corpus scan (the scan twin ``bm25_search_after`` needs all three
        corpus passes this path avoids)."""
        scored = self.scored_matches(query_text, lang)
        if cursor is not None:
            c_score, c_doc = float(cursor[0]), int(cursor[1])
            scored = scored.filter(
                (F.col("score") < F.lit(c_score))
                | (
                    (F.col("score") == F.lit(c_score))
                    & (F.col("doc_id") > F.lit(c_doc))
                )
            )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def collapse_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        collapse_col: str = "repo",
        lang: str | None = None,
    ) -> DataFrame:
        """Field collapsing on the index path: best hit per distinct
        ``collapse_col`` doc-value, then the global top-k of survivors —
        rank-identical to ``operators.search.collapse_topk``. The window
        shuffles only (doc_id, score, key) rows of the match set; the key
        comes from doc-values, never from the corpus."""
        from pyspark.sql import Window

        scored = self.scored_matches(query_text, lang)
        keys = self.doc_values([collapse_col]).withColumnRenamed(
            collapse_col, "group_key"
        )
        w = Window.partitionBy("group_key").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.join(keys, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("group_key", "doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def facet_top_hits(
        self,
        query_text: str,
        facet_col: str = "lang",
        per_facet: int = 3,
        lang: str | None = None,
    ) -> DataFrame:
        """Grouped top hits (ES ``top_hits``) on the index path: the best
        ``per_facet`` docs inside EVERY facet bucket of the match set with
        their in-bucket rank — rank-identical to
        ``operators.search.facet_top_hits``; the facet value is a
        doc-value (``lang`` is always stored)."""
        from pyspark.sql import Window

        scored = self.scored_matches(query_text, lang)
        keys = self.doc_values([facet_col]).withColumnRenamed(
            facet_col, "facet"
        )
        w = Window.partitionBy("facet").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.join(keys, "doc_id")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= per_facet)
            .select("facet", "rank", "doc_id", "score")
            .orderBy(F.asc("facet"), F.asc("rank"))
        )

    def sort_by_field_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        descending: bool = True,
        field: str = "n_chars",
    ) -> DataFrame:
        """Sort-by-doc-value retrieval on the index path (ES ``sort``):
        the match set ordered by a stored doc-value instead of relevance,
        score still reported — rank-identical to
        ``operators.search.sort_by_field_topk`` (field = content chars)."""
        scored = self.scored_matches(query_text, lang)
        vals = self.doc_values([field])
        first = F.desc(field) if descending else F.asc(field)
        return (
            scored.join(vals, "doc_id")
            .select("doc_id", field, "score")
            .orderBy(first, F.asc("doc_id"))
            .limit(k)
        )

    def function_score_topk(
        self,
        query_text: str,
        origin: int = 140,
        scale: int = 80,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        field: str = "n_chars",
    ) -> DataFrame:
        """ES ``function_score`` with a LINEAR decay on a stored doc-value,
        on the index path — rank-identical to
        ``operators.search.function_score_topk``:

            decay(x) = max(0, 1 - |x - origin| / scale)
            final    = round(bm25 * decay, 6)
        """
        scored = self.scored_matches(query_text, lang)
        vals = self.doc_values([field]).withColumnRenamed(field, "x")
        decay = F.greatest(
            F.lit(0.0),
            F.lit(1.0) - F.abs(F.col("x") - F.lit(origin)) / F.lit(float(scale)),
        )
        return (
            scored.join(vals, "doc_id")
            .select("doc_id", F.round(F.col("score") * decay, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def rank_feature_topk(
        self,
        query_text: str,
        pivot: int = 120,
        boost: float = 2.0,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        field: str = "n_chars",
    ) -> DataFrame:
        """ES ``rank_feature`` (saturation) on the index path — the static
        signal comes from the stored doc-values column, so the corpus is
        never read. Rank-identical to
        ``operators.search.rank_feature_topk``:

            sat(x) = x / (x + pivot)
            final  = floor((bm25 + boost * sat) * 1e6 + 0.5) / 1e6
        """
        scored = self.scored_matches(query_text, lang)
        vals = self.doc_values([field]).withColumnRenamed(field, "x")
        sat = F.col("x").cast("double") / (F.col("x") + F.lit(pivot)).cast("double")
        blended = F.col("score") + F.lit(float(boost)) * sat
        return (
            scored.join(vals, "doc_id")
            .select(
                "doc_id",
                (F.floor(blended * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                .alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def browse_topk(
        self, k: int = DEFAULT_TOP_K, field: str | None = None,
        descending: bool = True,
    ) -> DataFrame:
        """Early-terminated match-all sorted retrieval over an index built
        with ``sort_field=...`` — the Lucene index-sorting analog ("browse
        the corpus by newest/largest"). The build wrote a (doc_id, field)
        projection range-partitioned and sorted DESC by the field, and an
        EXACT descending histogram in meta; the query picks the tightest
        boundary T whose recorded cumulative count covers k (plus the
        tombstone count, so deletes can't starve the page) and scans with
        ``field >= T`` — parquet row-group stats prune everything below
        the threshold, so the scan is ~k rows, not the corpus. Exact by
        construction: count(field >= T) >= k guarantees no doc below T
        can reach the top k.

        Returns (doc_id, <field>) in (field desc, doc_id asc) order."""
        h = self.meta.get("sort_histogram")
        if not h:
            raise ValueError(
                "browse_topk requires an index built with sort_field=..."
            )
        if field is not None and field != h["field"]:
            raise ValueError(
                f"index is sorted by {h['field']!r}, not {field!r}"
            )
        if self.as_of is not None:
            raise ValueError(
                "browse_topk uses the as-of-latest sorted projection — "
                "time-travel browse is not supported"
            )
        field = h["field"]
        self._load_tombs()
        n_tombs = (
            len(self._tomb_bcast.value) if self._tomb_bcast is not None
            else (self._tomb_df.count() if self._tomb_df is not None else 0)
        )
        need = int(k) + int(n_tombs)
        df = self.spark.read.parquet(f"{self.path}/sorted_dv/{field}")
        if descending:
            threshold = None
            for b, c in zip(h["bounds"], h["cum_counts"]):
                if c >= need:
                    threshold = int(b)
                    break
            if threshold is not None:
                df = df.filter(F.col(field) >= threshold)
            order = [F.desc(field), F.asc("doc_id")]
        else:
            if "bounds_asc" not in h:
                raise ValueError(
                    "ascending browse needs the two-sided histogram — "
                    "rebuild (or re-finalize) this index"
                )
            threshold = None
            for b, c in zip(
                reversed(h["bounds_asc"]), reversed(h["cum_counts_le"])
            ):
                if c >= need:
                    threshold = int(b)
                    break
            if threshold is not None:
                df = df.filter(F.col(field) <= threshold)
            order = [F.asc(field), F.asc("doc_id")]
        return self._live(df).orderBy(*order).limit(int(k))

    def browse_after(
        self,
        cursor: tuple[int, int] | None,
        k: int = DEFAULT_TOP_K,
        field: str | None = None,
    ) -> DataFrame:
        """Keyset pagination over the index-sorted projection: the k rows
        strictly after the (field_value, doc_id) cursor in (field desc,
        doc_id asc) order. ``cursor=None`` is page 1 (= browse_topk).

        Early termination holds on BOTH sides: rows above the cursor are
        cut by the pushed ``field <= cursor`` predicate (row groups above
        prune), and the scan floor T comes from the exact histogram — the
        tightest bound where the guaranteed count strictly below the
        cursor value (cum(T) - cum(largest bound <= cursor), a lower
        bound since cum is counted at bounds) covers k + tombstones. Deep
        pages therefore stay ~k-row scans — no OFFSET, ever."""
        if cursor is None:
            return self.browse_topk(k, field)
        h = self.meta.get("sort_histogram")
        if not h:
            raise ValueError(
                "browse_after requires an index built with sort_field=..."
            )
        if field is not None and field != h["field"]:
            raise ValueError(
                f"index is sorted by {h['field']!r}, not {field!r}"
            )
        field = h["field"]
        cv, cd = int(cursor[0]), int(cursor[1])
        self._load_tombs()
        n_tombs = (
            len(self._tomb_bcast.value) if self._tomb_bcast is not None
            else (self._tomb_df.count() if self._tomb_df is not None else 0)
        )
        need = int(k) + int(n_tombs)
        # count(field >= cv) <= cum(largest bound <= cv); so
        # count(T <= field < cv) >= cum(T) - that upper bound
        ub_at_cv = None
        for b, c in zip(h["bounds"], h["cum_counts"]):
            if b <= cv:
                ub_at_cv = c
                break
        threshold = None
        if ub_at_cv is not None:
            for b, c in zip(h["bounds"], h["cum_counts"]):
                if b <= cv and c - ub_at_cv >= need:
                    threshold = int(b)
                    break
        df = self.spark.read.parquet(f"{self.path}/sorted_dv/{field}")
        df = df.filter(F.col(field) <= cv)
        if threshold is not None:
            df = df.filter(F.col(field) >= threshold)
        df = df.filter(
            (F.col(field) < cv)
            | ((F.col(field) == cv) & (F.col("doc_id") > cd))
        )
        return (
            self._live(df)
            .orderBy(F.desc(field), F.asc("doc_id"))
            .limit(int(k))
        )

    def histogram_agg(
        self,
        query_text: str,
        interval: int = 64,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``histogram`` bucket aggregation in query context: doc counts
        per fixed-width bucket of a stored doc-value over the query's OR
        match set. Bucket key = ``floor(value / interval) * interval`` (the
        ES keying rule); empty buckets are omitted (``min_doc_count=1``).

        Plan: the match set (doc_id only, from partition-pruned postings)
        equi-joins the column-pruned doc-values read, then one partial-agg
        count per bucket — the corpus is never touched and nothing wider
        than (doc_id, value) shuffles.
        """
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        bucket = (
            F.floor(F.col(field) / F.lit(int(interval))) * int(interval)
        ).cast("long")
        return (
            matches.join(vals, "doc_id")
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc("bucket"))
        )

    def composite_agg(
        self,
        query_text: str,
        interval: int = 64,
        size: int = 10,
        after: tuple[str, int] | None = None,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``composite`` bucket aggregation in query context: buckets
        keyed by (terms(repo), histogram(n_chars, interval)), returned in
        ascending key order a PAGE at a time with after-key resume —
        Elasticsearch's designed-for-scale agg pagination (top-N terms
        aggs must hold every bucket; composite streams them in key order,
        which is exactly what a 10^12-doc bucket walk needs).

        Plan: match set (partition-pruned postings) equi-joins the
        column-pruned doc-values read; the after-key predicate references
        only grouping keys, so Catalyst applies it BEFORE the aggregation
        (pages get cheaper as the walk advances), and the ascending-key
        page cut is a ``TakeOrderedAndProject`` — no full bucket list is
        ever materialized."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values(["repo", "n_chars"])
        bucket = (
            F.floor(F.col("n_chars") / F.lit(int(interval))) * int(interval)
        ).cast("long")
        keyed = matches.join(vals, "doc_id").select(
            "repo", bucket.alias("bucket")
        )
        if after is not None:
            a_repo, a_bucket = after
            keyed = keyed.filter(
                (F.col("repo") > a_repo)
                | ((F.col("repo") == a_repo) & (F.col("bucket") > int(a_bucket)))
            )
        return (
            keyed.groupBy("repo", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc("repo"), F.asc("bucket"))
            .limit(int(size))
        )

    def terms_stats_agg(
        self,
        query_text: str,
        field: str = "repo",
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``terms`` bucket aggregation with sub-aggregations, ordered
        BY a sub-aggregation: per ``field`` bucket over the query's match
        set, (n_docs, max_score, avg_score), buckets ranked
        (avg_score desc, key asc) — the "which repos match best on
        average" analytics shape ({"order": {"avg_score": "desc"}} in ES).

        Determinism: per-doc 6dp scores are converted to integer micro
        units (``round(score * 1e6)`` — exact, scores have <= 6dp), summed
        as integers (order-independent), and the bucket average is one
        identically-parenthesized floor-half-up expression on both
        engines. Plan: scored match set (postings only) equi-joins the
        column-pruned doc-values read; one partial-agg per bucket; top-k
        buckets via ``TakeOrderedAndProject``."""
        scored = self.scored_matches(query_text, lang)
        vals = self.doc_values([field])
        micro = F.round(F.col("score") * F.lit(1e6)).cast("long")
        return (
            scored.join(vals, "doc_id")
            .select(F.col(field), micro.alias("m"), F.col("score"))
            .groupBy(field)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.max("score").alias("max_score"),
                (
                    F.floor(
                        F.sum("m").cast("double")
                        / F.count(F.lit(1)).cast("double")
                        + F.lit(0.5)
                    )
                    / F.lit(1e6)
                ).alias("avg_score"),
            )
            .orderBy(F.desc("avg_score"), F.asc(field))
            .limit(int(k))
        )

    def stats_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``stats`` metric aggregation in query context: one row of
        (n_docs, min, max, sum, avg) of a stored doc-value over the match
        set. All inputs are exact integers; the avg is the one double and
        uses the shared half-up floor formula so Spark and DuckDB agree
        bit-exactly."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        joined = matches.join(vals, "doc_id")
        return joined.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(field).cast("long").alias("min_v"),
            F.max(field).cast("long").alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            (
                F.floor(
                    (
                        F.sum(field).cast("double")
                        / F.count(F.lit(1)).cast("double")
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("avg_v"),
        )

    def cardinality_agg(
        self,
        query_text: str,
        field: str = "repo",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``cardinality`` metric aggregation in query context: one row
        ``(n_distinct)`` — distinct values of a stored doc-value over the
        match set. Exact here (countDistinct — one extra shuffle keyed on
        the value); at 10^12 docs you'd swap in the mergeable KMV sketch
        from ``operators/sampling.py`` exactly as ES swaps in HLL."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        return matches.join(vals, "doc_id").agg(
            F.countDistinct(field).cast("long").alias("n_distinct")
        )

    def percentiles_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
        pctls: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
    ) -> DataFrame:
        """ES ``percentiles`` metric aggregation in query context (exact
        flavor): one row of exact linear-interpolation percentiles of a
        stored doc-value over the match set. Spark's ``percentile`` and
        DuckDB's ``quantile_cont`` share the interpolation definition
        (rank = (n-1)p, linear between neighbors) — bit-identical on
        integer inputs, no rounding shim (same evidence as
        ``operators.aggregations.value_percentiles``)."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        aggs = [F.count(F.lit(1)).alias("n_docs")] + [
            F.percentile(field, p).alias(f"p{int(p * 100)}") for p in pctls
        ]
        return matches.join(vals, "doc_id").agg(*aggs)

    def global_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``global`` aggregation: one row holding the query-scoped
        stats AND the whole-index stats side by side — the "your results
        vs the catalog" comparison widget. Query scope = the OR match
        set; global scope = every live doc (Lucene's global bucket
        ignores the query but NOT deletes).

        Plan: the match set joins doc-values once; the global side is a
        doc-values-only aggregate (no postings at all) — two metadata-
        sized aggregates, no corpus scan. Avgs use the shared half-up
        floor formula."""
        def _avg(sum_c: Column, n_c: Column) -> Column:
            return (
                F.floor(
                    (sum_c.cast("double") / n_c.cast("double")) * F.lit(1e6)
                    + F.lit(0.5)
                ) / F.lit(1e6)
            )

        vals = self._live(self.doc_values([field, "lang"]))
        if lang is not None:
            vals = vals.filter(F.col("lang") == lang)
        vals = vals.select("doc_id", field)
        q = (
            self.match_doc_ids(query_text, lang)
            .join(vals, "doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("q_docs"),
                F.sum(field).cast("long").alias("q_sum"),
            )
        )
        g = vals.agg(
            F.count(F.lit(1)).cast("long").alias("all_docs"),
            F.sum(field).cast("long").alias("all_sum"),
        )
        return q.crossJoin(F.broadcast(g)).select(
            "q_docs",
            _avg(F.col("q_sum"), F.col("q_docs")).alias("q_avg"),
            "all_docs",
            _avg(F.col("all_sum"), F.col("all_docs")).alias("all_avg"),
        )

    def range_agg(
        self,
        query_text: str,
        bounds: tuple[int, ...] = (200, 350),
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES numeric ``range`` bucket aggregation in query context:
        ``bounds`` (sorted cut points) induce len(bounds)+1 buckets
        ``(-inf, b0) [b0, b1) ... [b_last, +inf)`` — from inclusive, to
        exclusive, exactly the ES contract — and every bucket is emitted
        even when empty (doc_count 0, avg NULL), like ES with its
        explicit range list. Returns (bucket, lo, hi, n_docs, avg_v)
        ordered by bucket index.

        Plan: one when-chain assigns the bucket id inside the doc-values
        join projection (no per-range scan), one map-side-combined
        groupBy, then a broadcast left join from the constant range
        frame fills empties."""
        bs = sorted(int(b) for b in bounds)
        if not bs:
            raise ValueError("range_agg needs at least one bound")
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        v = F.col(field)
        bucket = F.lit(len(bs))
        for i, b in enumerate(reversed(bs)):
            bucket = F.when(v < F.lit(b), F.lit(len(bs) - 1 - i)).otherwise(bucket)
        got = (
            matches.join(vals, "doc_id")
            .groupBy(bucket.cast("long").alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(field).cast("long").alias("sum_v"),
            )
        )
        edges = [(i,
                  None if i == 0 else bs[i - 1],
                  None if i == len(bs) else bs[i])
                 for i in range(len(bs) + 1)]
        ranges = self.spark.createDataFrame(
            edges, "bucket long, lo long, hi long"
        )
        avg = (
            F.floor(
                (F.col("sum_v").cast("double") / F.col("n_docs").cast("double"))
                * F.lit(1e6) + F.lit(0.5)
            ) / F.lit(1e6)
        )
        return (
            ranges.join(got, "bucket", "left")
            .select(
                "bucket", "lo", "hi",
                F.coalesce(F.col("n_docs"), F.lit(0)).cast("long")
                .alias("n_docs"),
                F.when(F.col("n_docs").isNotNull(), avg).alias("avg_v"),
            )
            .orderBy("bucket")
        )

    def vw_histogram_agg(
        self,
        query_text: str,
        buckets: int = 4,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``variable_width_histogram``, deterministic flavor: ES's
        version is a streaming 1-D clusterer whose buckets depend on doc
        arrival order (explicitly non-deterministic in the ES docs) — a
        property a distributed engine with an exactness contract must
        not reproduce. This engine keeps the agg's CONTRACT (buckets
        sized by data density, not fixed width: dense value regions get
        narrow buckets) with a deterministic construction: ``ntile(B)``
        over the total order (value asc, doc_id asc), i.e.
        equal-frequency buckets. Returns (bucket, n_docs, min_v, max_v,
        avg_v) — min/max are the variable bucket edges.

        Plan: one doc-values join, one window over the match set (the
        sort is the agg's semantic — same cost class as ES's collect
        phase), one groupBy. The match set is doc-ids + one int column;
        nothing corpus-wide shuffles."""
        from pyspark.sql import Window

        if buckets < 1:
            raise ValueError("buckets must be >= 1")
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        w = Window.orderBy(F.col(field).asc(), F.col("doc_id").asc())
        avg = (
            F.floor(
                (F.col("sum_v").cast("double") / F.col("n_docs").cast("double"))
                * F.lit(1e6) + F.lit(0.5)
            ) / F.lit(1e6)
        )
        return (
            matches.join(vals, "doc_id")
            .select("doc_id", field, F.ntile(buckets).over(w).alias("bucket"))
            .groupBy(F.col("bucket").cast("long").alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min(field).cast("long").alias("min_v"),
                F.max(field).cast("long").alias("max_v"),
                F.sum(field).cast("long").alias("sum_v"),
            )
            .select("bucket", "n_docs", "min_v", "max_v", avg.alias("avg_v"))
            .orderBy("bucket")
        )

    def highlight_snippets(
        self,
        corpus: DataFrame,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        window: int = 3,
        lang: str | None = None,
    ) -> DataFrame:
        """Highlighted snippets for the BM25 top-k, index path: the top-k
        and the rarest-term pick order both come from the index (postings
        + dictionary dfs); the corpus is read ONLY for the k hit documents
        (doc-id-pruned scan) to cut the snippet text — no full tokenize
        pass anywhere, vs the scan twin's one. Rank- and snippet-identical
        to ``operators.search.highlight_snippets`` on a delete-free index
        (with tombstones, dictionary dfs — like Lucene docFreq — still
        count deleted docs, so the rarest-term pick may differ until
        compaction).
        """
        from smse_backend_spark.operators.search import snippets_for_hits

        if self.analyzer != "standard":
            raise ValueError("highlight_snippets requires the standard analyzer")
        terms = self._analyze(query_text)
        dfs = self.term_df(terms, lang) if terms else {}
        ordered = sorted(dfs, key=lambda t: (dfs[t], t))
        topk_rows = self.bm25_topk(query_text, k, lang).collect()
        return snippets_for_hits(corpus, topk_rows, ordered, window, lang)

    def significant_terms(
        self,
        corpus: DataFrame,
        query_text: str,
        k: int = 20,
        lang: str | None = None,
    ) -> DataFrame:
        """ES significant-terms on the index path: JLH-scored terms of the
        foreground (docs matching ANY query term) vs the corpus background.

            (fg% - bg%) * (fg% / bg%),  fg% = fg_df/|fg|, bg% = bg_df/N

        Index-path shape: the foreground doc set comes from the decoded
        postings (:meth:`match_doc_ids` — no corpus scan), background dfs
        and N come from the dictionary and meta; ONLY the foreground
        documents are tokenized (a doc-id join prunes the corpus read).
        The scan twin (``operators.aggregations.significant_terms``)
        tokenizes the whole corpus twice. Rank-identical on a delete-free
        index (tombstones: dictionary dfs count deleted docs, Lucene
        docFreq semantics, until compaction).
        """
        from smse_backend_spark.operators.aggregations import _doc_terms

        if self.analyzer != "standard":
            raise ValueError("significant_terms requires the standard analyzer")
        if self.as_of is not None:
            raise ValueError(
                "significant_terms backgrounds against the as-of-latest "
                "dictionary — time-travel aggregation is not supported"
            )
        empty = self.spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
        terms = self._analyze(query_text)
        if not terms:
            return empty
        bg_n, _ = self.corpus_stats(lang)
        m = self.match_doc_ids(query_text, lang)
        fg_n = m.count()
        if not fg_n or not bg_n:
            return empty
        scan = corpus.filter(F.col("lang") == lang) if lang is not None else corpus
        fg = (
            _doc_terms(scan.join(m, "doc_id"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("fg_df"))
        )
        bg = self.spark.read.parquet(f"{self.path}/dictionary")
        if lang is not None:
            bg = bg.filter(F.col("lang") == lang)
        bg = bg.groupBy("term").agg(F.sum("df").alias("bg_df"))
        fg_pct = F.col("fg_df").cast("double") / F.lit(float(fg_n))
        bg_pct = F.col("bg_df").cast("double") / F.lit(float(bg_n))
        return (
            fg.join(bg, "term")
            .withColumn("score", F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6))
            .select("term", "fg_df", "bg_df", "score")
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
        )

    def extended_stats_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``extended_stats`` metric aggregation in query context: one
        row of (n_docs, min, max, sum, sum_of_squares, avg, variance,
        std_deviation) of a stored doc-value over the match set.
        Count/min/max/sum/sum_sq are exact integers (order-independent
        partial aggregation); avg/variance/std are derived from those
        integers through one identically-parenthesized expression on both
        engines (population variance = ss/n - (s/n)^2, clamped at 0 for
        the all-equal float corner), then the shared half-up 6dp floor.
        Plan: postings-only match set joins the column-pruned doc-values —
        ONE aggregate row regardless of corpus size."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        v = F.col(field).cast("long")
        agg = matches.join(vals, "doc_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(field).cast("long").alias("min_v"),
            F.max(field).cast("long").alias("max_v"),
            F.sum(v).cast("long").alias("sum_v"),
            F.sum(v * v).cast("long").alias("sum_sq"),
        )
        n = F.col("n_docs").cast("double")
        s = F.col("sum_v").cast("double")
        ss = F.col("sum_sq").cast("double")
        var = F.greatest(ss / n - (s / n) * (s / n), F.lit(0.0))

        def r6(c):
            return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

        return agg.select(
            "n_docs", "min_v", "max_v", "sum_v", "sum_sq",
            r6(s / n).alias("avg_v"),
            r6(var).alias("variance"),
            r6(F.sqrt(var)).alias("std_dev"),
        )

    def weighted_avg_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``weighted_avg`` metric aggregation in query context: the
        doc-value ``field`` weighted by each doc's query score — the
        relevance-weighted mean (ES weighted_avg with value=field,
        weight=_score). Determinism: 6dp scores convert exactly to
        integer micro-units, so both the weighted sum and the weight sum
        are integer aggregations (order-independent); the one double is
        the final ratio through the shared floor formula. Plan: the
        scored match set (postings only) joins the column-pruned
        doc-values — ONE aggregate row."""
        scored = self.scored_matches(query_text, lang)
        vals = self.doc_values([field])
        w = F.round(F.col("score") * F.lit(1e6)).cast("long")
        v = F.col(field).cast("long")
        agg = (
            scored.join(vals, "doc_id")
            .select(w.alias("w"), v.alias("v"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("w") * F.col("v")).cast("long").alias("wv"),
                F.sum("w").cast("long").alias("wsum"),
            )
        )
        return agg.select(
            "n_docs",
            (
                F.floor(
                    F.col("wv").cast("double") / F.col("wsum").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("weighted_avg"),
        )

    def top_metrics_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        by: str = "repo",
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``top_metrics`` inside a ``terms`` bucket aggregation: per
        ``by`` bucket, the metric value of the bucket's top document
        under the total order (score desc, doc_id asc); buckets ranked
        (top_score desc, bucket asc), capped at ``k``. Plan: scored match
        set joins the doc-values, one window per bucket (the shuffle is
        keyed on the bucket — vocabulary-bounded), bucket cut via
        TakeOrderedAndProject."""
        from pyspark.sql import Window

        scored = self.scored_matches(query_text, lang)
        vals = self.doc_values([by, field])
        win = Window.partitionBy(by).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        top = (
            scored.join(vals, "doc_id")
            .withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
        )
        return (
            top.select(
                F.col(by),
                F.col("score").alias("top_score"),
                F.col("doc_id").alias("top_doc"),
                F.col(field).cast("long").alias("metric"),
            )
            .orderBy(F.desc("top_score"), F.asc(by))
            .limit(int(k))
        )

    # ln(2) as an explicit shared literal: both engines divide the SAME
    # natural-log value by the SAME constant, instead of trusting two
    # libm log2 implementations to agree to the last ulp
    _LN2 = 0.6931471805599453

    def string_stats_agg(
        self,
        query_text: str,
        field: str = "repo",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``string_stats`` metric aggregation in query context over a
        keyword doc-value: one row of (count, min_length, max_length,
        avg_length, entropy) where entropy is the Shannon entropy (base
        2) of the character distribution across all values of the field
        in the match set. Determinism: char counts are exact integers;
        each char's -p*log2(p) term is computed as ln/ln2 with ln(2)
        written as the same literal on both engines, quantized to 1e-12
        integer units per char (the bigram_pmi ln-parity precedent), and
        integer-summed — order-independent; final values pass the shared
        6dp floor. Plan: match set joins doc-values, chars explode into a
        vocabulary-bounded (alphabet-sized) aggregation — ONE row out."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        j = matches.join(vals, "doc_id").select(F.col(field).alias("s"))
        j = j.cache()
        base = j.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.length("s")).cast("long").alias("min_length"),
            F.max(F.length("s")).cast("long").alias("max_length"),
            F.sum(F.length("s")).cast("long").alias("len_sum"),
        )
        from pyspark.sql import Window

        chars = j.select(
            F.explode(F.split(F.col("s"), "")).alias("ch")
        ).filter(F.col("ch") != "")
        dist = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("c"))
        total = F.sum("c").over(Window.partitionBy())
        p = F.col("c").cast("double") / F.col("total").cast("double")
        term_q = F.floor(
            -(p * F.log(p)) / F.lit(self._LN2) * F.lit(1e12) + F.lit(0.5)
        ).cast("long")
        ent = (
            dist.withColumn("total", total)
            .select(term_q.alias("q"))
            .agg(F.sum("q").cast("long").alias("qsum"))
            .select(
                (
                    F.floor(
                        F.col("qsum").cast("double") / F.lit(1e12)
                        * F.lit(1e6)
                        + F.lit(0.5)
                    )
                    / F.lit(1e6)
                ).alias("entropy")
            )
        )
        out = base.crossJoin(ent).select(
            "cnt", "min_length", "max_length",
            (
                F.floor(
                    F.col("len_sum").cast("double")
                    / F.col("cnt").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("avg_length"),
            "entropy",
        )
        return out

    def classic_tfidf_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ClassicSimilarity (pre-BM25 TF-IDF) ranking: per-term
        contribution ``sqrt(tf) * idf^2 / sqrt(dl)`` with ``idf = 1 +
        ln((N+1)/(df+1))`` — the TFIDFSimilarity formula (sqrt tf
        saturation, squared idf from query*field weight, 1/sqrt length
        norm; the coord factor is gone in modern Lucene). Third
        similarity next to BM25 and Dirichlet LM, same decode plan: the
        postings of the query terms are the only input, per-term idf
        ships as driver literals, one per-doc sum, TakeOrderedAndProject.
        """
        terms = self._analyze(query_text)
        n, _avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        idf = {
            t: 1.0 + math.log((n + 1.0) / (df + 1.0))
            for t, df in dfs.items()
        }
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        decoded = self._decoded(self._blocks(sorted(idf), lang))
        scored = (
            decoded.join(self._idf_df(idf), "term")
            .withColumn(
                "contrib",
                F.sqrt(F.col("tf").cast("double"))
                * (F.col("idf") * F.col("idf"))
                / F.sqrt(F.col("dl").cast("double")),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
        return self._finish(scored, k)

    def _qsum_finish(self, contrib_rows: DataFrame, k: int) -> DataFrame:
        """Per-doc sum of pre-quantized integer contributions (column
        ``cq``) -> (doc_id, score) top-k; order-independent because the
        sum is over longs (the lm_dirichlet discipline)."""
        return (
            contrib_rows.groupBy("doc_id")
            .agg((F.sum("cq").cast("double") / F.lit(1e6)).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    @staticmethod
    def _quantize(raw):
        """floor-half-up to 1e-6 integer units — written identically in
        every SQL twin (``floor(x * 1e6 + 0.5)::BIGINT``)."""
        return F.floor(raw * F.lit(1e6) + F.lit(0.5)).cast("long")

    def lm_jelinek_mercer_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
        lam: float = 0.1,
    ) -> DataFrame:
        """Lucene ``LMJelinekMercerSimilarity``: linear-interpolation
        query-likelihood LM (Zhai & Lafferty 2001) — per matched (doc,
        term) ``ln(1 + (((1-λ)·tf)/dl) / (λ·p(t|C)))`` with ``p(t|C) =
        (cf+1)/(T+1)``. λ defaults to 0.1 (Lucene's short-query guidance).
        Plan: the BM25 decode plan verbatim; p(t|C) ships as a per-term
        broadcast literal from the dictionary's cf column + build-time T
        (no corpus scan); contributions quantized then integer-summed.
        See ``operators/similarities.py`` for the determinism rules."""
        from smse_backend_spark.operators.similarities import jm_constants

        terms = self._analyze(query_text)
        cfs = self.term_cf(terms, lang) if terms else {}
        if not cfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        om, lm, p = jm_constants(cfs, self._sum_dl(lang), lam)
        p_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(p.items()), "term string, p double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(p), lang))
        raw = F.log(
            F.lit(1.0)
            + ((F.lit(om) * F.col("tf").cast("double"))
               / F.col("dl").cast("double"))
            / (F.lit(lm) * F.col("p"))
        )
        return self._qsum_finish(
            decoded.join(p_df, "term").withColumn("cq", self._quantize(raw)),
            k,
        )

    def _h2_tfn(self, avgdl: float):
        """DFR normalization H2 (c = 1): ``tf * log2(1 + avgdl/dl)`` —
        the shared saturation used by the InL2 and IB LL models."""
        from smse_backend_spark.operators.similarities import LN2

        return F.col("tf").cast("double") * (
            F.log(F.lit(1.0) + F.lit(avgdl) / F.col("dl").cast("double"))
            / F.lit(LN2)
        )

    def dfr_inl2_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``DFRSimilarity(BasicModelIn, AfterEffectL,
        NormalizationH2)`` — the classic InL2 divergence-from-randomness
        ranking (Amati & van Rijsbergen 2002): ``log2((N+1)/(df+0.5)) *
        tfn/(tfn+1)`` with H2 tfn (c = 1). Per-term idf is a driver
        literal from the dictionary df; same decode plan as BM25."""
        from smse_backend_spark.operators.similarities import inl2_idf

        terms = self._analyze(query_text)
        n, avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = inl2_idf(n, dfs)
        decoded = self._decoded(self._blocks(sorted(idf), lang))
        tfn = self._h2_tfn(avgdl)
        raw = F.col("idf") * (tfn / (tfn + F.lit(1.0)))
        return self._qsum_finish(
            decoded.join(self._idf_df(idf), "term")
            .withColumn("cq", self._quantize(raw)),
            k,
        )

    def dfr_pl2_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Terrier's **PL2** divergence-from-randomness model (Amati &
        van Rijsbergen 2002 — BasicModel P(oisson), L(aplace)
        after-effect, H2 normalization; Lucene shipped BasicModelP until
        8.0, when it was dropped for allowing negative contributions —
        kept here as published, unclamped)::

            tfn     = tf * log2(1 + avgdl/dl)              (H2, c = 1)
            λ_t     = cf_t / N                              (Poisson mean)
            contrib = (1/(tfn+1)) * ( tfn*log2(tfn/λ_t)
                                      + (λ_t - tfn)*log2(e)
                                      + 0.5*log2(2π*tfn) )

        λ_t is a driver literal from the dictionary cf; same decode plan
        and quantize-then-integer-sum discipline as the other similarity
        models."""
        from smse_backend_spark.operators.similarities import LN2

        terms = self._analyze(query_text)
        n, avgdl = self.corpus_stats(lang)
        cfs = self.term_cf(terms, lang) if terms and n else {}
        if not cfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        lam = {t: float(cf) / n for t, cf in cfs.items()}
        lam_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(lam.items()), "term string, lam double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(lam), lang))
        tfn = self._h2_tfn(avgdl)
        log2e = 1.0 / LN2
        two_pi = 2.0 * math.pi
        raw = (F.lit(1.0) / (tfn + F.lit(1.0))) * (
            tfn * (F.log(tfn / F.col("lam")) / F.lit(LN2))
            + (F.col("lam") - tfn) * F.lit(log2e)
            + F.lit(0.5) * (F.log(F.lit(two_pi) * tfn) / F.lit(LN2))
        )
        return self._qsum_finish(
            decoded.join(lam_df, "term").withColumn("cq", self._quantize(raw)),
            k,
        )

    def ib_ll_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``IBSimilarity(DistributionLL, LambdaDF,
        NormalizationH2)`` — information-based log-logistic model
        (Clinchant & Gaussier 2010): ``log2((tfn + λ_w)/λ_w)`` with
        ``λ_w = (df+1)/(N+1)`` and H2 tfn. λ_w ships as a per-term
        broadcast literal; same decode plan as BM25."""
        from smse_backend_spark.operators.similarities import LN2, ll_lambda

        terms = self._analyze(query_text)
        n, avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        lw = ll_lambda(n, dfs)
        lw_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(lw.items()), "term string, lw double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(lw), lang))
        tfn = self._h2_tfn(avgdl)
        raw = F.log((tfn + F.col("lw")) / F.col("lw")) / F.lit(LN2)
        return self._qsum_finish(
            decoded.join(lw_df, "term").withColumn("cq", self._quantize(raw)),
            k,
        )

    def dfi_chi2_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``DFISimilarity(IndependenceChiSquared)`` — divergence
        from independence (Kocabas, Dinçer & Karaoğlan 2014): expected tf
        under independence is ``((cf+1)·dl)/(T+1)``; a term only scores
        when observed tf EXCEEDS expectation, contributing
        ``log2(χ²+1)`` with ``χ² = (tf-expected)²/expected``. cf+1 ships
        as a per-term broadcast literal from the dictionary; T from build
        metadata; same decode plan as BM25."""
        from smse_backend_spark.operators.similarities import LN2

        terms = self._analyze(query_text)
        cfs = self.term_cf(terms, lang) if terms else {}
        if not cfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        t1 = float(self._sum_dl(lang)) + 1.0
        cfp1 = {t: float(cf) + 1.0 for t, cf in cfs.items()}
        c_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(cfp1.items()), "term string, cfp1 double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(cfp1), lang))
        tfd = F.col("tf").cast("double")
        expected = (F.col("cfp1") * F.col("dl").cast("double")) / F.lit(t1)
        measure = ((tfd - expected) * (tfd - expected)) / expected
        raw = F.when(
            tfd > expected, F.log(measure + F.lit(1.0)) / F.lit(LN2)
        ).otherwise(F.lit(0.0))
        return self._qsum_finish(
            decoded.join(c_df, "term").withColumn("cq", self._quantize(raw)),
            k,
        )

    def ib_spl_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``IBSimilarity(DistributionSPL, LambdaDF,
        NormalizationH2)`` — the smoothed power-law sibling of
        :meth:`ib_ll_topk` (Clinchant & Gaussier 2010):
        ``-log2((λ_w^(tfn/(tfn+1)) - λ_w) / (1 - λ_w))`` with
        ``λ_w = (df+1)/(N+1)`` and H2 tfn. The power is written
        ``exp(q·ln λ)`` IDENTICALLY on both engines (libm pow differs
        between JVM and C; exp∘ln composed the same way does not).
        A term present in EVERY doc makes λ_w = 1 and the model
        undefined (Lucene returns Infinity there); this engine rejects
        it loudly instead. Same decode plan as BM25."""
        from smse_backend_spark.operators.similarities import LN2, ll_lambda

        terms = self._analyze(query_text)
        n, avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        full = [t for t, df in dfs.items() if df >= n]
        if full:
            raise ValueError(
                f"IB-SPL is undefined for terms in every document: {full}"
            )
        lw = ll_lambda(n, dfs)
        lw_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(lw.items()), "term string, lw double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(lw), lang))
        tfn = self._h2_tfn(avgdl)
        q = tfn / (tfn + F.lit(1.0))
        powed = F.exp(q * F.log(F.col("lw")))
        raw = -(
            F.log((powed - F.col("lw")) / (F.lit(1.0) - F.col("lw")))
            / F.lit(LN2)
        )
        return self._qsum_finish(
            decoded.join(lw_df, "term").withColumn("cq", self._quantize(raw)),
            k,
        )

    def _dfi_variant_topk(
        self, query_text: str, k: int, lang: str | None, kind: str
    ) -> DataFrame:
        """Shared DFI scorer for the saturated / standardized independence
        measures (chi-squared has its own method, kept verbatim since it
        predates these): expected tf under independence is
        ``((cf+1)·dl)/(T+1)``; a term only scores when tf EXCEEDS
        expectation, contributing ``log2(measure + 1)`` where measure is

        * ``saturated``    — ``(tf - expected) / expected``
        * ``standardized`` — ``(tf - expected) / sqrt(expected)``

        (Kocabas, Dinçer & Karaoğlan 2014; Lucene IndependenceSaturated /
        IndependenceStandardized). Same decode plan as BM25."""
        from smse_backend_spark.operators.similarities import LN2

        terms = self._analyze(query_text)
        cfs = self.term_cf(terms, lang) if terms else {}
        if not cfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        t1 = float(self._sum_dl(lang)) + 1.0
        cfp1 = {t: float(cf) + 1.0 for t, cf in cfs.items()}
        c_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(cfp1.items()), "term string, cfp1 double"
            )
        )
        decoded = self._decoded(self._blocks(sorted(cfp1), lang))
        tfd = F.col("tf").cast("double")
        expected = (F.col("cfp1") * F.col("dl").cast("double")) / F.lit(t1)
        if kind == "saturated":
            measure = (tfd - expected) / expected
        else:
            measure = (tfd - expected) / F.sqrt(expected)
        raw = F.when(
            tfd > expected, F.log(measure + F.lit(1.0)) / F.lit(LN2)
        ).otherwise(F.lit(0.0))
        return self._qsum_finish(
            decoded.join(c_df, "term").withColumn("cq", self._quantize(raw)),
            k,
        )

    def dfi_saturated_topk(
        self, query_text: str, k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``DFISimilarity(IndependenceSaturated)``."""
        return self._dfi_variant_topk(query_text, k, lang, "saturated")

    def dfi_standardized_topk(
        self, query_text: str, k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``DFISimilarity(IndependenceStandardized)``."""
        return self._dfi_variant_topk(query_text, k, lang, "standardized")

    def boolean_sim_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``BooleanSimilarity``: every matched term scores its
        boost (= 1), so a doc's score is the count of distinct query
        terms it contains — tf, dl and corpus stats are ignored. Exact
        integers, no quantization. Decode plan unchanged."""
        terms = self._analyze(query_text)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        live = sorted(set(terms))
        decoded = self._decoded(self._blocks(live, lang))
        return (
            decoded.groupBy("doc_id")
            .agg(F.countDistinct("term").cast("double").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _ax_tfn(self, avgdl: float):
        """Axiomatic F2 length-normalized tf (Fang & Zhai 2005):
        ``tf / (tf + s + s·dl/avgdl)`` with Lucene's default s = 0.5 —
        shared by the F2EXP and F2LOG models, same parenthesization as
        the oracle's ``_AX_TFN``."""
        from smse_backend_spark.operators.similarities import AX_S

        tfd = F.col("tf").cast("double")
        return tfd / (
            tfd
            + F.lit(AX_S)
            + F.lit(AX_S) * F.col("dl").cast("double") / F.lit(avgdl)
        )

    def _ax_topk(
        self, idf: dict[str, float], avgdl: float, k: int, lang: str | None
    ) -> DataFrame:
        """Shared Axiomatic scorer: per-term idf ships as a broadcast
        literal (driver-side from the dictionary's integer df), F2 tfn
        on the decoded postings, quantize-then-integer-sum — the same
        decode plan and determinism discipline as every other pluggable
        similarity (no corpus scan, one per-doc partial agg,
        TakeOrderedAndProject)."""
        decoded = self._decoded(self._blocks(sorted(idf), lang))
        raw = F.col("idf") * self._ax_tfn(avgdl)
        return self._qsum_finish(
            decoded.join(self._idf_df(idf), "term")
            .withColumn("cq", self._quantize(raw)),
            k,
        )

    def axiomatic_f2exp_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``AxiomaticF2EXP`` (Fang & Zhai 2005, SIGIR — the
        axiomatic retrieval family): ``((N+1)/df)^k * tf/(tf + s +
        s·dl/avgdl)`` with Lucene's defaults s=0.5, k=0.35. Completes
        the pluggable-similarity surface next to BM25 / Classic /
        Dirichlet / JM / InL2 / PL2 / IB-LL / DFI / Boolean."""
        from smse_backend_spark.operators.similarities import f2exp_idf

        terms = self._analyze(query_text)
        n, avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return self._ax_topk(f2exp_idf(n, dfs), avgdl, k, lang)

    def axiomatic_f2log_topk(
        self,
        query_text: str,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``AxiomaticF2LOG``: ``ln((N+1)/df)`` idf over the same
        F2 normalized tf — the log-idf sibling of :meth:`axiomatic_f2exp_topk`."""
        from smse_backend_spark.operators.similarities import f2log_idf

        terms = self._analyze(query_text)
        n, avgdl = self.corpus_stats(lang)
        dfs = self.term_df(terms, lang) if terms and n else {}
        if not dfs:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return self._ax_topk(f2log_idf(n, dfs), avgdl, k, lang)

    def synonym_query_topk(
        self,
        groups: list[list[str]],
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Lucene ``SynonymQuery`` (what a match query emits for terms
        the synonym-graph filter expands): each group of terms scores as
        ONE pseudo-term — per-doc tf = SUM of the members' tfs, df = MAX
        of the members' dfs driving a single idf — so adding a rare
        synonym never inflates a common term's idf (the blended-df
        discipline SynonymQuery exists for). The query is the OR (sum)
        of its group scores. Distinct from the index-time ``synonym``
        analyzer (which rewrites tokens to a canonical form): blending
        happens at score time against an UNMODIFIED index.

        Plan shape: one postings decode for the union of member terms, a
        broadcast term->group map, one (doc, group) partial-agg summing
        tfs, then the standard contrib/sum/TakeOrderedAndProject tail —
        the same two-shuffle shape as plain BM25."""
        members: dict[str, int] = {}
        for gid, grp in enumerate(groups):
            for raw in grp:
                toks = self._analyze(raw)
                if len(toks) != 1:
                    raise ValueError(
                        f"synonym group members must analyze to one term, "
                        f"got {raw!r} -> {toks!r}"
                    )
                members[toks[0]] = gid
        if not members:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        n, avgdl = self.corpus_stats(lang)
        if not n:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        terms = sorted(members)
        dfs = self.term_df(terms, lang)
        gdf: dict[int, int] = {}
        for t, df in dfs.items():
            gid = members[t]
            gdf[gid] = max(gdf.get(gid, 0), df)
        if not gdf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        gidf = {gid: bm25_idf(n, df) for gid, df in gdf.items()}
        live = sorted(t for t in terms if t in dfs)
        gmap = F.broadcast(
            self.spark.createDataFrame(
                [(t, members[t]) for t in live], "term string, gid int"
            )
        )
        gidf_df = F.broadcast(
            self.spark.createDataFrame(
                list(gidf.items()), "gid int, idf double"
            )
        )
        decoded = self._decoded(self._blocks(live, lang))
        gtf = (
            decoded.join(gmap, "term")
            .groupBy("doc_id", "gid")
            .agg(
                F.sum("tf").cast("long").alias("tf"),
                F.max("dl").cast("long").alias("dl"),
            )
        )
        scored = (
            gtf.join(gidf_df, "gid")
            .withColumn(
                "contrib",
                F.col("idf") * _tf_norm(F.col("tf"), F.col("dl"), avgdl),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
        return self._finish(scored, k)

    # ES filters agg: named predicates over the n_chars doc-value.
    # Each bucket is an INDEPENDENT predicate (overlap double-counts,
    # ES semantics) — 'not_tiny' overlaps the three size bands.
    FILTERS_BUCKETS: tuple[tuple[str, int | None, int | None], ...] = (
        ("small", None, 256),
        ("medium", 256, 1024),
        ("large", 1024, None),
        ("not_tiny", 64, None),
    )

    def filters_agg(
        self,
        query_text: str,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``filters`` bucket aggregation in query context: named
        predicate buckets over the match set — (key, n_docs) per bucket,
        ordered by key. Buckets are independent predicates (overlaps
        double-count, exactly ES). Plan: postings-only match set joins
        the column-pruned doc-values; ONE conditional aggregation
        computes every bucket (no per-filter re-scan), and the bucket
        rows unpivot from the single aggregate row — constant network
        traffic at any corpus size."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values(["n_chars"])
        j = matches.join(vals, "doc_id")
        aggs = []
        for key, lo, hi in self.FILTERS_BUCKETS:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("n_chars") >= F.lit(int(lo)))
            if hi is not None:
                cond = cond & (F.col("n_chars") < F.lit(int(hi)))
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                .alias(f"n_{key}")
            )
        one = j.agg(*aggs)
        rows = [
            one.select(
                F.lit(key).alias("key"),
                F.col(f"n_{key}").alias("n_docs"),
            )
            for key, _lo, _hi in self.FILTERS_BUCKETS
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out.orderBy("key")

    def mad_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``median_absolute_deviation`` metric aggregation in query
        context: median(|x - median(x)|) of a stored doc-value over the
        match set — the robust dispersion ES pairs with percentiles.
        Exact here (two interpolated-median passes; Spark ``percentile``
        == DuckDB ``quantile_cont`` bit-identically — the
        event_value_percentiles precedent); ES's production form is the
        TDigest sketch, the documented 10^12 swap. Output (n_docs,
        median, mad)."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        j = matches.join(vals, "doc_id").select(
            F.col(field).cast("double").alias("x")
        )
        j = j.cache()
        med = j.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.percentile("x", 0.5).alias("median"),
        )
        return (
            j.crossJoin(F.broadcast(med))
            .select(
                "n_docs", "median",
                F.abs(F.col("x") - F.col("median")).alias("d"),
            )
            .groupBy("n_docs", "median")
            .agg(F.percentile("d", 0.5).alias("mad"))
        )

    def boxplot_agg(
        self,
        query_text: str,
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``boxplot`` metric aggregation in query context: one row of
        (n_docs, min, max, q1, q2, q3) of a stored doc-value over the
        match set — exact interpolated quantiles (same parity note as
        :meth:`mad_agg`)."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values([field])
        x = F.col(field).cast("double")
        return matches.join(vals, "doc_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(field).cast("long").alias("min_v"),
            F.max(field).cast("long").alias("max_v"),
            F.percentile(x, 0.25).alias("q1"),
            F.percentile(x, 0.5).alias("q2"),
            F.percentile(x, 0.75).alias("q3"),
        )

    def t_test_agg(
        self,
        query_text: str,
        split: str = "src3",
        field: str = "n_chars",
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``t_test`` metric aggregation (heteroscedastic / Welch, the
        ES default) in query context: the t statistic between two filter
        buckets of the match set — repos lexicographically below
        ``split`` vs the rest — over a stored doc-value. Everything
        derives from exact integer sums (n, Σx, Σx² per group) through
        one identically-parenthesized expression: t = (m1 - m2) /
        sqrt(v1/n1 + v2/n2) with sample variances ((ss - s*s/n)/(n-1)),
        floor-half-up 6dp. Output (n_a, n_b, mean_a, mean_b, t). Plan:
        match set joins doc-values, ONE conditional aggregation row."""
        matches = self.match_doc_ids(query_text, lang)
        vals = self.doc_values(["repo", field])
        j = matches.join(vals, "doc_id")
        in_a = F.col("repo") < F.lit(split)
        v = F.col(field).cast("long")
        agg = j.agg(
            F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(~in_a, 1).otherwise(0)).cast("long").alias("n_b"),
            F.sum(F.when(in_a, v).otherwise(0)).cast("long").alias("s_a"),
            F.sum(F.when(~in_a, v).otherwise(0)).cast("long").alias("s_b"),
            F.sum(F.when(in_a, v * v).otherwise(0)).cast("long").alias("ss_a"),
            F.sum(F.when(~in_a, v * v).otherwise(0)).cast("long").alias("ss_b"),
        )
        na = F.col("n_a").cast("double")
        nb = F.col("n_b").cast("double")
        sa = F.col("s_a").cast("double")
        sb = F.col("s_b").cast("double")
        ssa = F.col("ss_a").cast("double")
        ssb = F.col("ss_b").cast("double")
        va = (ssa - sa * sa / na) / (na - F.lit(1.0))
        vb = (ssb - sb * sb / nb) / (nb - F.lit(1.0))
        t = (sa / na - sb / nb) / F.sqrt(va / na + vb / nb)

        def r6(c):
            return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

        return agg.select(
            "n_a", "n_b",
            r6(sa / na).alias("mean_a"),
            r6(sb / nb).alias("mean_b"),
            r6(t).alias("t"),
        )

    def more_like_this(
        self,
        corpus: DataFrame,
        doc_id: int,
        k: int = DEFAULT_TOP_K,
        max_terms: int = 8,
        lang: str | None = None,
        unlike_doc_id: int | None = None,
    ) -> DataFrame:
        """More-like-this: find docs similar to a source doc by selecting
        its most characteristic terms and running them as an OR query
        (Lucene MoreLikeThis). Term selection: per-term ``tf * idf`` in
        the source doc (tf from the doc, idf from the global dictionary),
        rounded to 6 dp, ranked (weight desc, term asc), capped at
        ``max_terms``. The source doc itself is excluded from results.

        ``unlike_doc_id`` is ES's ``unlike`` clause: a NEGATIVE exemplar
        whose terms are removed from the candidate set before ranking —
        "like doc A but not like doc B" steers the selection toward what
        distinguishes A from B. Both exemplar reads are pruned
        point-fetches (doc_id pushed to the parquet scan)."""
        from smse_backend_spark.functions.tokenizer import tokenize_py

        def _doc_terms_of(did: int) -> list[str]:
            r = corpus.filter(F.col("doc_id") == did).select("content").first()
            if r is None:
                return []
            ts = tokenize_py(r["content"])
            if self.analyzer == "stem":
                from smse_backend_spark.functions.tokenizer import stem_py

                ts = [stem_py(t) for t in ts]
            return ts

        toks = _doc_terms_of(doc_id)
        if not toks:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        tf_of: dict[str, int] = {}
        for t in toks:
            tf_of[t] = tf_of.get(t, 0) + 1
        if unlike_doc_id is not None:
            for t in set(_doc_terms_of(unlike_doc_id)):
                tf_of.pop(t, None)
            if not tf_of:
                return self.spark.createDataFrame([], RESULT_SCHEMA)
        _, avgdl, _, idf = self._bm25_stats(sorted(tf_of), lang)
        weights = {
            t: math.floor(tf_of[t] * w * 1e6 + 0.5) / 1e6
            for t, w in idf.items()
        }
        chosen = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))
        sel = sorted(t for t, _w in chosen[:max_terms])
        if not sel:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        sel_idf = {t: idf[t] for t in sel}
        scored = self._score(
            self._blocks(sel, lang), sel_idf, avgdl
        ).filter(F.col("doc_id") != doc_id)
        return self._finish(scored, k)

    def suggest(
        self,
        term: str,
        max_edits: int = 2,
        n: int = 10,
        lang: str | None = None,
        mode: str = "always",
    ) -> DataFrame:
        """Did-you-mean spelling suggestions: dictionary terms within
        ``max_edits`` Levenshtein of ``term``, ranked (distance asc, df
        desc, term asc) and capped — returns (term, df, dist). Driver
        dictionary walk when the vocabulary fits, else a metadata-only
        dictionary scan with the JVM ``levenshtein`` expression.

        ``mode`` is ES's ``suggest_mode``: ``always`` (default here)
        suggests regardless; ``popular`` keeps only candidates whose df
        strictly EXCEEDS the input term's own df — the "more common than
        what you typed" filter (which also drops the input itself);
        ``missing`` suggests ONLY when the input term is absent from the
        (lang-filtered) dictionary — ES's default mode — and returns no
        rows for a known term."""
        if mode not in ("always", "popular", "missing"):
            raise ValueError(f"unknown suggest_mode {mode!r}")
        toks = query_terms(term)
        if len(toks) != 1:
            raise ValueError(f"suggest takes exactly one term, got {toks!r}")
        q = toks[0]
        out_schema = "term string, df long, dist int"
        cached = self._cached_dict(lang)
        if cached is not None:
            df_in = cached.get(q, (0, 0))[0]
            if mode == "missing" and df_in > 0:
                return self.spark.createDataFrame([], out_schema)
            rows = []
            for t, (df, _cf) in cached.items():
                if mode == "popular" and df <= df_in:
                    continue
                dist = _levenshtein_band(q, t, max_edits)
                if dist <= max_edits:
                    rows.append((t, df, dist))
            rows.sort(key=lambda r: (r[2], -r[1], r[0]))
            return self.spark.createDataFrame(rows[:n], out_schema)
        d = self.spark.read.parquet(f"{self.path}/dictionary").withColumn(
            "dist", F.levenshtein(F.col("term"), F.lit(q))
        ).filter(F.col("dist") <= max_edits)
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        out = d.groupBy("term", "dist").agg(F.sum("df").alias("df"))
        if mode == "popular":
            df_in = self.term_df([q], lang).get(q, 0)
            out = out.filter(F.col("df") > int(df_in))
        elif mode == "missing":
            if self.term_df([q], lang).get(q, 0) > 0:
                return self.spark.createDataFrame([], out_schema)
        return (
            out.select("term", "df", "dist")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def complete(
        self, prefix: str, n: int = 10, lang: str | None = None
    ) -> DataFrame:
        """Completion suggester (ES ``completion``/term-suggest ranked by
        popularity): dictionary terms starting with ``prefix``, ranked by
        collection frequency (cf desc, term asc), capped — (term, cf)
        rows. The reference exposes free-text query entry
        (`routes/search.py:23`); this is the type-ahead over the indexed
        vocabulary.

        Metadata-only: served from the driver dictionary cache when the
        vocabulary fits, else a two-column dictionary scan with the
        prefix predicate pushed down to the parquet reader (terms are
        dictionary-sorted on disk, so row groups outside the prefix range
        skip). Posting blobs are never read."""
        if not prefix or query_terms(prefix) != [prefix]:
            raise ValueError(
                f"prefix must be a single analyzed token, got {prefix!r}"
            )
        out_schema = "term string, cf long"
        cached = self._cached_dict(lang)
        if cached is not None:
            rows = sorted(
                ((t, cf) for t, (_df, cf) in cached.items() if t.startswith(prefix)),
                key=lambda kv: (-kv[1], kv[0]),
            )[:n]
            return self.spark.createDataFrame(rows, out_schema)
        d = self.spark.read.parquet(f"{self.path}/dictionary").filter(
            F.col("term").startswith(prefix)
        )
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        return (
            d.groupBy("term").agg(F.sum("cf").alias("cf"))
            .orderBy(F.desc("cf"), F.asc("term"))
            .limit(n)
        )

    def complete_fuzzy(
        self,
        prefix: str,
        n: int = 10,
        lang: str | None = None,
        fuzziness: int = 1,
        prefix_length: int = 1,
    ) -> DataFrame:
        """ES fuzzy completion suggester (Lucene ``FuzzyCompletionQuery``):
        a dictionary term matches when SOME prefix of it is within
        ``fuzziness`` Levenshtein edits of the typed input (the FST
        consumes the completion prefix-first, so only prefixes of length
        ``len(input) ± fuzziness`` can qualify) and its first
        ``prefix_length`` characters match the input exactly (Lucene's
        non-fuzzy head). Ranked by (best edit distance asc — Lucene's
        "lower edit distance scores higher" — then cf desc, term asc),
        capped at ``n``; output rows are (term, dist, cf).

        Metadata-only, exactly like :meth:`complete`: driver dictionary
        cache when the vocabulary fits, else a dictionary scan with the
        exact-head prefix predicate pushed down; posting blobs are never
        read."""
        if not prefix or query_terms(prefix) != [prefix]:
            raise ValueError(
                f"prefix must be a single analyzed token, got {prefix!r}"
            )
        f, pl = int(fuzziness), int(prefix_length)
        if pl > len(prefix):
            raise ValueError("prefix_length must be <= len(prefix)")
        L = len(prefix)
        lengths = list(range(max(1, L - f), L + f + 1))
        head = prefix[:pl]
        out_schema = "term string, dist long, cf long"
        cached = self._cached_dict(lang)
        if cached is not None:
            rows = []
            for t, (_df, cf) in cached.items():
                if t[:pl] != head:
                    continue
                best = f + 1
                for Lp in lengths:
                    if Lp > len(t):
                        break
                    d = _levenshtein_band(t[:Lp], prefix, f)
                    if d < best:
                        best = d
                if best <= f:
                    rows.append((t, best, cf))
            rows.sort(key=lambda r: (r[1], -r[2], r[0]))
            return self.spark.createDataFrame(rows[:n], out_schema)
        d = self.spark.read.parquet(f"{self.path}/dictionary").filter(
            F.substring("term", 1, pl) == F.lit(head)
        )
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        dist = F.least(*[
            F.when(
                F.length("term") >= Lp,
                F.levenshtein(F.substring("term", 1, Lp), F.lit(prefix)),
            ).otherwise(F.lit(1 << 30))
            for Lp in lengths
        ])
        return (
            d.groupBy("term").agg(F.sum("cf").alias("cf"))
            .withColumn("dist", dist.cast("long"))
            .filter(F.col("dist") <= f)
            .select("term", "dist", "cf")
            .orderBy(F.asc("dist"), F.desc("cf"), F.asc("term"))
            .limit(n)
        )

    def rare_terms(
        self,
        max_doc_frac: float = 0.05,
        k: int = 30,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``rare_terms`` from the DICTIONARY alone — no posting blob,
        no corpus: df per term is already a dictionary column (summed
        across langs when unfiltered). The long-tail twin of
        :meth:`complete`'s cf ranking; equals
        ``operators.aggregations.rare_terms`` over the same corpus.

        Not time-travel-aware (the dictionary is as-of-latest; historical
        df would need the pruned block metadata — refuse rather than
        silently answer from the wrong snapshot)."""
        if self.as_of is not None:
            raise ValueError(
                "rare_terms reads the as-of-latest dictionary — "
                "time-travel rare_terms is not supported"
            )
        n, _ = self.corpus_stats(lang)
        cut = int(math.ceil(float(max_doc_frac) * n))
        out_schema = "term string, df long"
        cached = self._cached_dict(lang)
        if cached is not None:
            rows = sorted(
                ((t, df) for t, (df, _cf) in cached.items() if df <= cut),
                key=lambda kv: (kv[1], kv[0]),
            )[:k]
            return self.spark.createDataFrame(rows, out_schema)
        d = self.spark.read.parquet(f"{self.path}/dictionary")
        if lang is not None:
            d = d.filter(F.col("lang") == lang)
        return (
            d.groupBy("term").agg(F.sum("df").cast("long").alias("df"))
            .filter(F.col("df") <= cut)
            .orderBy(F.asc("df"), F.asc("term"))
            .limit(k)
        )

    def bigram_counts(self, lang: str | None = None) -> DataFrame:
        """(a, b, n) adjacent-pair counts from the index's stored shingle
        model (``build_index(shingles=True)`` — the ES shingle-subfield
        analog). Honors time travel via batch partition pruning. Note:
        soft-deleted docs' pairs remain counted until a corpus rebuild
        (compaction refuses to carry a tombstoned shingle model)."""
        if not self.meta["config"].get("shingles"):
            raise ValueError(
                "bigram_counts requires an index built with shingles=True"
            )
        df = self.spark.read.parquet(f"{self.path}/shingles")
        if self.as_of is not None:
            df = df.filter(F.col("batch") <= self.as_of)
        if lang is not None:
            df = df.filter(F.col("lang") == lang)
        return df.groupBy("a", "b").agg(F.sum("n").cast("long").alias("n"))

    def phrase_suggest(
        self,
        corpus: DataFrame | None,
        text: str,
        max_edits: int = 1,
        per_term: int = 8,
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """ES ``phrase`` suggester (multi-word did-you-mean): each analyzed
        input token generates dictionary candidates within Levenshtein
        distance ``max_edits`` (ranked df desc / term asc, capped at
        ``per_term`` — the same FuzzyQuery discipline as
        :meth:`expand_fuzzy`); candidate phrases are the per-position
        cross product, scored by the corpus bigram language model
        (score = sum of adjacent-pair bigram counts, an exact integer —
        the shingle-field LM that backs ES's suggester, without the
        transcendental smoothing so both engines agree bit-exactly).
        Total order (score desc, suggestion asc).

        Scale shape: candidate generation is the bounded dictionary walk
        (metadata only); the candidate-pair set (≤ ``per_term``² rows per
        adjacent position, NEVER the phrase cross product) is broadcast
        against the bigram source, so only candidate pairs survive — the
        shuffle carries candidate counts, never the corpus. The phrase
        cross product itself (``per_term``^tokens rows) is built as a
        DISTRIBUTED fold of broadcast joins over per-position candidate
        frames — the driver materializes only the ≤ ``per_term``²·(L-1)
        scored pairs, and the token count is capped at ``max_tokens``
        (the ES phrase-suggester gram-size discipline) so the fold's
        final frame stays bounded. With ``corpus=None`` the bigram
        source is the INDEX-TIME shingle model
        (``build_index(shingles=True)`` — the ES shingle subfield), so
        no corpus scan happens at query time at all; passing a corpus
        derives the same table in-job (exactly equal — asserted in
        tests).
        """
        from smse_backend_spark.functions.tokenizer import tokenize_col

        max_tokens = 6
        toks = self._analyze_seq(text)
        out_schema = "suggestion string, score long"
        if len(toks) < 2:
            raise ValueError(
                f"phrase_suggest needs >= 2 analyzed tokens, got {toks!r}"
            )
        if len(toks) > max_tokens:
            raise ValueError(
                f"phrase_suggest caps the input at {max_tokens} analyzed "
                f"tokens (candidate space is per_term^tokens), got "
                f"{len(toks)}"
            )
        cands = [
            self.expand_fuzzy(t, max_edits, lang, per_term) for t in toks
        ]
        if any(not c for c in cands):
            return self.spark.createDataFrame([], out_schema)
        # distinct adjacent-position candidate pairs — Σᵢ ≤ per_term²
        # rows, independent of the phrase cross-product size
        need_rows = sorted(
            {
                (a, b)
                for i in range(len(cands) - 1)
                for a in cands[i]
                for b in cands[i + 1]
            }
        )
        need = F.broadcast(
            self.spark.createDataFrame(need_rows, "a string, b string")
        )
        if corpus is None:
            if not self.meta["config"].get("shingles"):
                raise ValueError(
                    "phrase_suggest(corpus=None) requires an index built "
                    "with shingles=True"
                )
            raw = self.spark.read.parquet(f"{self.path}/shingles")
            if lang is not None:
                raw = raw.filter(F.col("lang") == lang)
            bg = (
                raw.join(need, ["a", "b"])
                .groupBy("a", "b")
                .agg(F.sum("n").cast("long").alias("n"))
            )
        else:
            tcol = tokenize_col(F.col("content"))
            adj = F.when(
                F.size(tcol) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(tcol) - 1),
                    lambda i: F.struct(
                        F.element_at(tcol, i).alias("a"),
                        F.element_at(tcol, i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            src = (
                corpus if lang is None
                else corpus.filter(F.col("lang") == lang)
            )
            bg = (
                src.select(F.explode(adj).alias("p"))
                .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .join(need, ["a", "b"])
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("n"))
            )
        # the pair LM fits the driver by construction (≤ per_term²·(L-1)
        # rows) — collect it once and ship each position's scored pair
        # table as a broadcast literal (the repo's driver-side-constant
        # discipline), then FOLD: each step extends every partial phrase
        # by one position via a broadcast hash join, so the per_term^L
        # phrase set only ever exists distributed across executors.
        bg_n = {(r["a"], r["b"]): int(r["n"]) for r in bg.collect()}
        phrases = self.spark.createDataFrame(
            [(c, c, 0) for c in cands[0]],
            "suggestion string, last string, score long",
        )
        for i in range(1, len(cands)):
            step = F.broadcast(
                self.spark.createDataFrame(
                    [
                        (a, b, bg_n.get((a, b), 0))
                        for a in cands[i - 1]
                        for b in cands[i]
                    ],
                    "a string, b string, n long",
                )
            )
            phrases = phrases.join(
                step, phrases["last"] == step["a"]
            ).select(
                F.concat_ws(" ", "suggestion", "b").alias("suggestion"),
                F.col("b").alias("last"),
                (F.col("score") + F.col("n")).alias("score"),
            )
        return (
            phrases.select("suggestion", F.col("score").cast("long").alias("score"))
            .orderBy(F.desc("score"), F.asc("suggestion"))
            .limit(k)
        )

    def _topk_for_terms(
        self,
        terms: list[str],
        k: int,
        lang: str | None,
        mode: str,
    ) -> DataFrame:
        _, avgdl, dfs, idf = self._bm25_stats(terms, lang)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        if mode == "auto":
            mode = (
                "single_pass"
                if sum(dfs.values()) < self.PRUNE_MIN_POSTINGS
                else "pruned"
            )
        if mode == "single_pass":
            self._load_tombs()
            if self._tomb_df is not None:
                # tombstone set too big for the in-kernel array filter —
                # the join-based decode path stays exact at any delete size
                mode = "exhaustive"
        if mode == "single_pass":
            # terms are pure [a-z0-9]+ tokens, so the joined string
            # round-trips exactly through the kernel's query_terms()
            return (
                self._batch_kernel_topk(
                    {0: " ".join(sorted(idf))}, idf, avgdl, k, lang,
                    est_postings=sum(dfs.values()),
                )
                .select("doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id"))
            )
        blocks = self._blocks(sorted(idf), lang)
        if mode == "exhaustive":
            scored = self._score(blocks, idf, avgdl)
            return self._finish(scored, k)
        return self._pruned_topk(blocks, idf, avgdl, k)

    def bm25_topk_batch(
        self,
        queries: dict[int, str],
        k: int = DEFAULT_TOP_K,
        lang: str | None = None,
    ) -> DataFrame:
        """Score a whole query batch in ONE DataFrame job.

        Returns (query_id, rank, doc_id, score); per-query rank semantics
        identical to :meth:`bm25_topk` (round 6dp, score desc, doc_id asc).

        Scale shape: every matched posting is shuffled exactly ONCE (by
        doc_id) no matter how many queries are in the batch — scoring is a
        docs x queries matrix product inside a per-partition numpy kernel
        against a broadcast (term x query) weight matrix, and only each
        partition's local top-k per query survives to the final global
        rank. The naive alternative (join postings x query-terms, groupBy
        (query, doc)) shuffles |queries| x |postings| rows — two orders of
        magnitude more at realistic batch sizes.
        """
        from pyspark.sql import Window

        all_terms = sorted({t for q in queries.values() for t in self._analyze(q)})
        _, avgdl, _, idf = self._bm25_stats(all_terms, lang)
        if not idf:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        return self._batch_kernel_topk(queries, idf, avgdl, k, lang)

    def _batch_kernel_topk(
        self,
        queries: dict[int, str],
        idf: dict[str, float],
        avgdl: float,
        k: int,
        lang: str | None,
        est_postings: int | None = None,
    ) -> DataFrame:
        """Single-pass exact scoring: one job, one compressed-block shuffle."""
        from pyspark.sql import Window

        self._load_tombs()
        if self._tomb_df is not None:
            raise ValueError(
                "tombstone set exceeds TOMB_ARRAY_CAP for the in-kernel "
                "batch path — run compact_index to apply deletes physically, "
                "or query per-query with mode='exhaustive'"
            )
        per_q = {qid: self._analyze(q) for qid, q in queries.items()}
        matched = sorted(idf)
        term_ix = {t: i for i, t in enumerate(matched)}
        qids = sorted(per_q)
        # memory bound inside the kernel is (partition postings) x (queries);
        # chunk the query dimension and size partitions off index stats
        chunks = [qids[i : i + 64] for i in range(0, len(qids), 64)]
        total_postings = max(
            est_postings
            if est_postings is not None
            else self.meta.get("n_postings", 0),
            1,
        )
        nparts = int(
            min(4096, max(self.spark.sparkContext.defaultParallelism,
                          total_postings // 200_000 + 1))
        )
        # shuffle COMPRESSED blocks by segment: segments are disjoint doc-id
        # ranges, so this is a doc-partitioning that moves ~1% of the bytes
        # a post-decode doc_id repartition would
        repart = self._blocks(matched, lang).select(
            "segment", "term", "first_doc", "gaps", "tfs", "dls"
        ).repartition(nparts, "segment")

        out = None
        for chunk in chunks:
            w_mat = np.zeros((len(matched), len(chunk)), dtype=np.float64)
            for j, qid in enumerate(chunk):
                for t in per_q[qid]:
                    if t in idf:
                        w_mat[term_ix[t], j] = idf[t]
            kernel = _make_batch_scorer(
                term_ix, w_mat, np.array(chunk), avgdl, k,
                tomb_b=self._tomb_bcast,
            )
            local_topk = repart.mapInPandas(
                kernel, "query_id long, doc_id long, score double"
            )
            out = local_topk if out is None else out.unionByName(local_topk)
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            out.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def _finish(self, scored: DataFrame, k: int) -> DataFrame:
        return (
            scored.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _pruned_topk(
        self, blocks: DataFrame, idf: dict[str, float], avgdl: float, k: int
    ) -> DataFrame:
        idf_df = self._idf_df(idf)
        # metadata-only pass: per-segment upper bound. Tombstoned docs still
        # count into the bound (a bound over a superset stays sound; the
        # live filter happens inside _score before any top-k). Only the small stat
        # columns are read (Parquet column pruning skips the blobs). The
        # per-segment bound table is one row per segment — collected to the
        # driver (segments = docs/segment_size; even 10^12 docs / 10^6-doc
        # segments is 10^6 rows, driver-safe).
        seg_rows = (
            blocks.select("term", "segment", "block_max_tf", "block_min_dl")
            .join(idf_df, "term")
            .withColumn(
                "ub", F.col("idf") * _tf_norm(F.col("block_max_tf"), F.col("block_min_dl"), avgdl)
            )
            .groupBy("segment", "term")
            .agg(F.max("ub").alias("tub"))
            .groupBy("segment")
            .agg(F.sum("tub").alias("seg_ub"))
        ).collect()
        if not seg_rows:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        seg_rows.sort(key=lambda r: -r["seg_ub"])
        n_seed = max(2, k // 4)
        seed = [r["segment"] for r in seg_rows[:n_seed]]
        seed_scores = self._score(
            blocks.filter(F.col("segment").isin(seed)), idf, avgdl
        ).cache()
        top = seed_scores.orderBy(F.desc("score")).limit(k).collect()
        theta = top[-1]["score"] - 1e-9 if len(top) >= k else float("-inf")
        rest = [r["segment"] for r in seg_rows[n_seed:] if r["seg_ub"] >= theta]
        if not rest:
            return self._finish(seed_scores, k)
        rest_scores = self._score(
            blocks.filter(F.col("segment").isin(rest)), idf, avgdl
        )
        return self._finish(seed_scores.unionByName(rest_scores), k)


def fielded_indexed_topk(
    field_indexes: dict[str, "InvertedIndex"],
    query_text: str,
    field_weights: dict[str, float],
    k: int = DEFAULT_TOP_K,
    combine: str = "sum",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Fielded BM25 over PER-FIELD inverted indexes — the scale path of
    :func:`smse_backend_spark.operators.search.multi_field_bm25_scan`
    (``combine="sum"``) and :func:`...dis_max_bm25_scan`
    (``combine="dismax"``), rank-identical to the scan twins.

    Each field is its own index (e.g. the ``path`` field indexed via
    ``corpus.withColumn("content", col("path"))``), so a query touches
    only the posting blocks of its terms in each field — cost scales with
    matched postings, never with the corpus. Per-field match sets come
    back UNROUNDED from ``_score`` and are weighted/combined before the
    single 6dp rounding, preserving parity with the scan oracles.
    """
    some_idx = next(iter(field_indexes.values()))
    empty = some_idx.spark.createDataFrame([], RESULT_SCHEMA)
    if not field_weights:
        return empty
    parts = []
    for f in sorted(field_weights):
        idx = field_indexes[f]
        terms = idx._analyze(query_text)  # each field's own analyzer
        if not terms:
            continue
        _, avgdl, _, idf = idx._bm25_stats(terms, None)
        if not idf:
            continue
        scored = idx._score(idx._blocks(sorted(idf), None), idf, avgdl)
        parts.append(
            scored.select(
                "doc_id",
                (F.col("score") * F.lit(float(field_weights[f]))).alias("fs"),
            )
        )
    if not parts:
        return empty
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    if combine == "sum":
        agg = F.round(F.sum("fs"), 6).alias("score")
    elif combine == "dismax":
        tb = float(tie_breaker)
        agg = F.round(
            F.max("fs") + F.lit(tb) * (F.sum("fs") - F.max("fs")), 6
        ).alias("score")
    else:
        raise ValueError(f"unknown combine mode {combine!r}")
    return (
        u.groupBy("doc_id")
        .agg(agg)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def combined_fields_indexed_topk(
    field_indexes: dict[str, "InvertedIndex"],
    query_text: str,
    field_weights: dict[str, float],
    k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """Lucene ``CombinedFieldQuery`` served from PER-FIELD inverted
    indexes — the scale path of
    :func:`smse_backend_spark.operators.search.combined_fields_scan`,
    rank-identical to it (shared oracle): pooled weighted tf from each
    field's decoded postings, pooled doc length from each field's
    docstats (pruned point reads of the MATCHED doc set only), pooled
    avgdl from the builds' integer ``sum_dl`` metadata (no corpus scan,
    no extra job), blended df = max over the field dictionaries.

    Scale shape: per field, only the query terms' posting blocks decode;
    the docstats joins touch matched docs; every aggregation is
    map-side combined; integer-valued weights keep pooled tf/dl exact.
    """
    some = next(iter(field_indexes.values()))
    spark = some.spark
    empty = spark.createDataFrame([], RESULT_SCHEMA)
    fields = sorted(field_weights)
    if not fields:
        return empty
    n = float(some.meta["n_docs"])
    if not n:
        return empty
    pooled_sum_dl = 0.0
    for f in fields:
        pooled_sum_dl += float(field_weights[f]) * float(
            field_indexes[f].meta["sum_dl"]
        )
    avgdl = pooled_sum_dl / n
    terms_per_field = {
        f: field_indexes[f]._analyze(query_text) for f in fields
    }
    dfs_per_field = {
        f: (field_indexes[f].term_df(sorted(set(ts)), None) if ts else {})
        for f, ts in terms_per_field.items()
    }
    df_max: dict[str, int] = {}
    for dfs in dfs_per_field.values():
        for t, d in dfs.items():
            df_max[t] = max(df_max.get(t, 0), int(d))
    if not df_max:
        return empty
    idf = {t: bm25_idf(n, d) for t, d in df_max.items()}
    parts = []
    for f in fields:
        present = sorted(dfs_per_field[f])
        if not present:
            continue
        idx = field_indexes[f]
        dec = idx._decoded(idx._blocks(present, None))
        parts.append(
            dec.select(
                "term", "doc_id",
                (F.col("tf").cast("double")
                 * F.lit(float(field_weights[f]))).alias("wtf"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    pooled = u.groupBy("doc_id", "term").agg(F.sum("wtf").alias("ctf"))
    docs = pooled.select("doc_id").distinct()
    dl_parts = []
    for f in fields:
        ds = spark.read.parquet(
            f"{field_indexes[f].path}/docstats"
        ).select("doc_id", "doc_len")
        dl_parts.append(
            docs.join(ds, "doc_id").select(
                "doc_id",
                (F.col("doc_len").cast("double")
                 * F.lit(float(field_weights[f]))).alias("wdl"),
            )
        )
    du = dl_parts[0]
    for p in dl_parts[1:]:
        du = du.unionByName(p)
    cdl = du.groupBy("doc_id").agg(F.sum("wdl").alias("cdl"))
    idf_df = F.broadcast(
        spark.createDataFrame(
            sorted(idf.items()), "term string, idf double"
        )
    )
    from smse_backend_spark.functions.bm25 import bm25_term_score_col

    return (
        pooled.join(cdl, "doc_id")
        .join(idf_df, "term")
        .withColumn(
            "contrib",
            bm25_term_score_col(
                F.col("ctf"), F.col("idf"), F.col("cdl"), avgdl
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _merged_shard_stats(
    shards: list[InvertedIndex], terms: list[str], lang: str | None
) -> tuple[float, dict[str, float]]:
    """(avgdl, idf) of the shards taken as one corpus — the exact integer
    merge of each shard's commit-time ``n_docs``/``sum_dl`` and per-term
    df (metadata and dictionaries only, no posting blob read)."""
    if lang is None:
        n = float(sum(s.meta["n_docs"] for s in shards))
        sdl = float(sum(s.meta["sum_dl"] for s in shards))
    else:
        sts = [
            s.meta["per_lang"].get(lang, {"n_docs": 0, "sum_dl": 0})
            for s in shards
        ]
        n = float(sum(st["n_docs"] for st in sts))
        sdl = float(sum(st["sum_dl"] for st in sts))
    dfs: dict[str, int] = {}
    if terms and n:
        for s in shards:
            for t, d in s.term_df(terms, lang).items():
                dfs[t] = dfs.get(t, 0) + int(d)
    return (sdl / n if n else 0.0), {t: bm25_idf(n, df) for t, df in dfs.items()}


def sharded_bm25_topk(
    spark: SparkSession,
    paths: list[str],
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """Distributed shard search: query N independently-built shard indexes
    as ONE logical index — the Lucene/ES ``dfs_query_then_fetch``
    coordinator protocol (the reference keeps one flat search space the
    user queries as a whole, `routes/search.py:23`; at 10^12 files the
    shards ARE the deployment unit and consolidating them to ask a
    question is not an option).

    Phase 1 (coordinator, metadata only): global corpus stats and per-term
    document frequencies combine across shards from per-shard meta +
    dictionaries — ``n_docs``/``sum_dl`` add, df sums per term — so every
    shard scores with the same GLOBAL idf/avgdl. No posting blob is read.
    Phase 2 (fan-out): each shard decodes only its own matched postings
    and partially aggregates per doc (its own tombstones applied); the
    union re-aggregates by doc_id (one narrow shuffle of the match set)
    and reduces to one global top-k.

    Rank-identical to querying the ``merge_indexes`` consolidation of the
    same shards (asserted in tests; the contract entry shares
    ``bm25_indexed_merged``'s oracle). Shards must agree on the analyzer;
    doc-id spaces are expected disjoint (the ``merge_indexes`` precondition
    — overlapping ids would double-count exactly as a merged index would
    refuse to build).
    """
    if not paths:
        raise ValueError("need at least one shard path")
    shards = [InvertedIndex(spark, p) for p in paths]
    analyzers = {s.analyzer for s in shards}
    if len(analyzers) != 1:
        raise ValueError(f"shards disagree on analyzer: {sorted(analyzers)}")
    avgdl, idf = _merged_shard_stats(shards, shards[0]._analyze(query_text), lang)
    if not idf:
        return spark.createDataFrame([], RESULT_SCHEMA)
    parts = [
        s._score(s._blocks(sorted(idf), lang), idf, avgdl) for s in shards
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("doc_id")
        .agg(F.round(F.sum("score"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def route_shard(routing: str, n_shards: int) -> int:
    """ES custom-routing hash: routing value -> owning shard, via the
    engine-wide sha256 discipline (content-independent, replayable
    anywhere — including by the test that PLACES docs on shards)."""
    import hashlib

    h = hashlib.sha256(routing.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") % int(n_shards)


def routed_bm25_topk(
    spark: SparkSession,
    paths: list[str],
    query_text: str,
    routing: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    routing_field: str = "repo",
) -> DataFrame:
    """Custom-routing search (ES ``?routing=``): the routing value hashes
    to ONE owning shard, so the query decodes 1/N of the deployment's
    postings regardless of corpus size — the per-tenant / per-repo query
    shape that makes 10^12-file search affordable when the caller already
    knows the partition key.

    Rank parity with the unrouted engine: idf/avgdl merge from EVERY
    shard's commit-time metadata (the same metadata-only coordinator pass
    as :func:`sharded_bm25_topk` — no posting blob is read off the other
    shards), and the owning shard's match set is filtered to
    ``routing_field == routing`` via its stored doc-values (routing picks
    the shard; the term filter picks the tenant's docs within it). Equal
    by construction to the full-fanout search restricted to that tenant —
    tombstones excluded the same way (the owner's ``_score`` path applies
    them).

    Shards must be built with ``docvalues=(routing_field,)`` and docs
    placed by ``route_shard(doc[routing_field], n_shards)`` — asserted
    against the shard's own doc-values (a misplaced tenant would silently
    return a partial result otherwise: we check the OTHER shards hold no
    rows for this routing value only in tests, the query itself stays
    1/N-cost).
    """
    if not paths:
        raise ValueError("need at least one shard path")
    shards = [InvertedIndex(spark, p) for p in paths]
    analyzers = {s.analyzer for s in shards}
    if len(analyzers) != 1:
        raise ValueError(f"shards disagree on analyzer: {sorted(analyzers)}")
    owner = shards[route_shard(routing, len(paths))]
    avgdl, idf = _merged_shard_stats(shards, owner._analyze(query_text), lang)
    if not idf:
        return spark.createDataFrame([], RESULT_SCHEMA)
    scored = owner._score(owner._blocks(sorted(idf), lang), idf, avgdl)
    keep = owner.doc_values([routing_field]).filter(
        F.col(routing_field) == routing
    ).select("doc_id")
    return (
        scored.join(keep, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum("score"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def sharded_facet_counts(
    spark: SparkSession,
    paths: list[str],
    corpus: DataFrame,
    query_text: str,
    facet_cols: tuple[str, ...] = ("lang", "repo"),
    lang: str | None = None,
) -> DataFrame:
    """Distributed aggregation over shards — the ES shard-agg protocol
    beside :func:`sharded_bm25_topk`'s ranked retrieval: each shard
    computes its facet PARTIAL counts over its own match set (own
    postings decode, own tombstones, join against the facet projection);
    the coordinator merges by summing. Counts are additive across the
    shards' disjoint doc-id spaces, so the merged result equals
    ``facet_counts`` on the consolidated index exactly.

    Scale shape: what crosses a shard boundary is one (facet values,
    partial count) row per facet combination per shard — never doc ids,
    never postings; the final merge is vocabulary-of-facets sized.
    """
    if not paths:
        raise ValueError("need at least one shard path")
    shards = [InvertedIndex(spark, p) for p in paths]
    facets = corpus.select("doc_id", *facet_cols)
    parts = [
        s.match_doc_ids(query_text, lang)
        .join(facets, "doc_id")
        .groupBy(*facet_cols)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        for s in shards
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    order = [F.desc("n_docs")] + [F.asc(c) for c in facet_cols]
    return (
        u.groupBy(*facet_cols)
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
        .orderBy(*order)
    )


def term_vectors_oracle_sql(doc_ids: list[int], table: str = "documents") -> str:
    """DuckDB twin of :meth:`InvertedIndex.term_vectors`: tf by re-
    tokenizing the requested docs, df as the corpus-wide distinct-doc
    count per term (per-lang doc sets are disjoint, so this equals the
    dictionary's summed per-lang df)."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    ids = ", ".join(str(int(d)) for d in sorted(set(doc_ids)))
    toks = tokenize_duckdb_sql("text")
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM {table}),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM tok WHERE doc_id IN ({ids}) GROUP BY 1, 2
),
df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
SELECT tf.doc_id, tf.term, tf.tf, df.df FROM tf JOIN df USING (term)
"""


def postings_stats(spark, path: str) -> "DataFrame":
    """Index integrity metrics from block METADATA alone: per-lang posting
    count (sum of block ``n``), distinct indexed terms, and block count —
    no blob is ever decoded, so this is a column-pruned parquet stat scan
    (the per-partition metrics surface the build's lineage promises).
    Must equal a from-scratch recount of distinct (doc, term) pairs."""
    return (
        spark.read.parquet(f"{path}/postings")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_postings"),
            F.countDistinct("term").cast("long").alias("n_terms"),
            F.count("*").cast("long").alias("n_blocks"),
        )
    )


def postings_stats_oracle_sql(table: str = "documents") -> str:
    """DuckDB recount twin of :func:`postings_stats` (block count is
    excluded — it is a physical layout property; the oracle checks the
    LOGICAL invariants: postings = distinct (doc, term), terms =
    distinct terms)."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({toks}) AS term FROM {table}
),
dt AS (SELECT DISTINCT doc_id, lang, term FROM tok)
SELECT lang, count(*)::BIGINT AS n_postings,
       count(DISTINCT term)::BIGINT AS n_terms
FROM dt GROUP BY lang
"""


def doclen_histogram(spark, path: str, bucket: int = 16) -> "DataFrame":
    """Histogram of document lengths from the index's docstats doc-values
    (the ES histogram aggregation over a doc-value field): (bucket_lo,
    n_docs). Column-pruned read of (doc_len) only — the corpus is never
    touched; one partial-agg groupBy on the bucket."""
    df = spark.read.parquet(f"{path}/docstats")
    lo = (F.floor(F.col("doc_len") / bucket) * bucket).cast("long")
    return (
        df.groupBy(lo.alias("bucket_lo"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def doclen_histogram_oracle_sql(bucket: int = 16, table: str = "documents") -> str:
    """DuckDB recount twin of :func:`doclen_histogram`."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql("text")
    return f"""
WITH dl AS (SELECT len({toks}) AS doc_len FROM {table})
SELECT ((doc_len // {bucket}) * {bucket})::BIGINT AS bucket_lo,
       count(*)::BIGINT AS n_docs
FROM dl GROUP BY 1
"""


def terms_enum(spark, path: str, prefix: str, k: int = 20) -> "DataFrame":
    """ES ``_terms_enum`` API: the sorted dictionary walk under a prefix
    — (term, df, cf) with per-lang rows summed to global counts, ordered
    term asc, first ``k``. Dictionary-only: no postings blob is decoded
    and the corpus is never touched; the read is a column-pruned scan of
    ``<index>/dictionary`` with the prefix predicate pushed to parquet
    (`StartsWith` pushes as a ``>= prefix AND < prefix+1`` range).

    Reference analog: the reference exposes no term enumeration at all
    (`routes/search.py` is ranked retrieval only); ES uses this for
    search-as-you-type field exploration and Kibana autocomplete.
    """
    d = spark.read.parquet(f"{path}/dictionary")
    return (
        d.filter(F.col("term").startswith(prefix))
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
        )
        .orderBy(F.asc("term"))
        .limit(int(k))
    )


def terms_enum_oracle_sql(
    prefix: str, k: int = 20, table: str = "documents"
) -> str:
    """DuckDB recount twin of :func:`terms_enum`: df = distinct docs
    containing the term, cf = total occurrences, via the same analyzer."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM tok
WHERE starts_with(term, '{prefix}')
GROUP BY term
ORDER BY term ASC
LIMIT {int(k)}
"""


def lineage_partitions(spark, path: str) -> "DataFrame":
    """The per-partition build lineage as a queryable DataFrame: one row
    per (batch, lang, term_bucket) with the term range and term / block /
    posting counts each batch manifest recorded at commit time
    (``index/build.partition_stats`` — the target spec's "per-partition
    lineage (partition id, term range, doc count, bytes)").

    Metadata-only in the strictest sense: this reads the JSON manifests
    (a few KB per batch, already on the driver for any resume decision);
    no parquet footer, no posting blob. Every count must equal a
    from-scratch recount of the corpus — that equality is the
    checkpoint-integrity guarantee a resume relies on.
    """
    from smse_backend_spark.index import lineage as lin

    rows = []
    for m in lin.read_lineage(path):
        for p in m.get("partitions", []):
            rows.append((
                int(m["batch_id"]), p["lang"], int(p["term_bucket"]),
                p["term_range"][0], p["term_range"][1],
                int(p["n_terms"]), int(p["n_blocks"]), int(p["n_postings"]),
            ))
    return spark.createDataFrame(
        rows,
        "batch int, lang string, term_bucket int, term_lo string, "
        "term_hi string, n_terms long, n_blocks long, n_postings long",
    ).orderBy("batch", "lang", "term_bucket")


def lineage_partitions_oracle_sql(
    cap: int = 768,
    batch_docs: int = 256,
    segment_size: int = 256,
    block_size: int = 64,
    n_buckets: int = 8,
    table: str = "documents",
) -> str:
    """DuckDB recount twin of :func:`lineage_partitions` for an index
    built over ``doc_id < cap`` with ``batch_docs`` docs per batch: batch
    and segment are doc-id ranges, term_bucket replays the sha2-derived
    bucket (``index/build.term_bucket_col``), and n_blocks replays the
    codec's layout law — ceil(postings per (term, segment) / block_size).
    """
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql("text")
    return f"""
WITH docs AS (
  SELECT doc_id, lang, {toks} AS toks FROM {table} WHERE doc_id < {cap}
),
dt AS (
  SELECT DISTINCT doc_id, lang, unnest(toks) AS term FROM docs
),
ext AS (
  SELECT (doc_id // {batch_docs})::INT AS batch, lang, term,
         ((('0x' || substr(sha256(term), 1, 8))::UBIGINT)
          % {n_buckets})::INT AS term_bucket,
         doc_id // {segment_size} AS segment
  FROM dt
),
bl AS (
  SELECT batch, lang, term_bucket, term, segment,
         count(*)::BIGINT AS np,
         ceil(count(*)::DOUBLE / {block_size})::BIGINT AS nb
  FROM ext GROUP BY 1, 2, 3, 4, 5
)
SELECT batch, lang, term_bucket,
       min(term) AS term_lo, max(term) AS term_hi,
       count(DISTINCT term)::BIGINT AS n_terms,
       sum(nb)::BIGINT AS n_blocks,
       sum(np)::BIGINT AS n_postings
FROM bl
GROUP BY 1, 2, 3
ORDER BY batch, lang, term_bucket
"""
