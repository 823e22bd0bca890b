"""Index build + query: rank-identity vs scan mode, pruned == exhaustive,
and crash-resume (FIXTURES.md §6 lineage fixture)."""

from __future__ import annotations

import numpy as np
import pytest

from smse_backend_spark.corpus import load_corpus
from smse_backend_spark.index import lineage as lin
from smse_backend_spark.index.build import build_index
from smse_backend_spark.index.query import InvertedIndex
from smse_backend_spark.operators.search import bm25_topk_scan

QUERIES = [
    ("hash join merge scan", None),
    ("window", None),
    ("the fast small slow", None),
    ("batch stream spark window", "en"),
    ("nonexistentterm", None),
    ("the row data column", None),  # all-hot terms
]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke):
    c = load_corpus(spark, sf_smoke).cache()
    c.count()
    return c


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    meta = build_index(
        spark, corpus, out, segment_size=64, n_buckets=4, block_size=16, n_batches=3
    )
    assert meta["n_docs"] == 500
    return InvertedIndex(spark, out)


@pytest.mark.parametrize("query,lang", QUERIES)
@pytest.mark.parametrize("mode", ["exhaustive", "pruned"])
def test_index_rank_identity_vs_scan(corpus, index, query, lang, mode):
    want = [(r["doc_id"], r["score"]) for r in bm25_topk_scan(corpus, query, 10, lang).collect()]
    got = [(r["doc_id"], r["score"]) for r in index.bm25_topk(query, 10, lang, mode=mode).collect()]
    assert [d for d, _ in got] == [d for d, _ in want], f"{mode} docs diverge"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-6)


def test_batch_matches_single_query_mode(corpus, index):
    batch = {i: q for i, (q, lang) in enumerate(QUERIES) if lang is None}
    got = index.bm25_topk_batch(batch, k=10).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in batch.items():
        want = [(r["doc_id"], r["score"]) for r in index.bm25_topk(q, 10).collect()]
        assert by_q.get(qid, []) == want, f"batch diverges for query {q!r}"


def test_dictionary_df_matches_scan(spark, corpus, index):
    """df from the index dictionary == countDistinct over the token stream."""
    from pyspark.sql import functions as F

    from smse_backend_spark.functions.tokenizer import tokenize_col

    want = {
        r["term"]: r["df"]
        for r in corpus.select(
            "doc_id", F.explode(F.array_distinct(tokenize_col("content"))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    got = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{index.path}/dictionary")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    assert got == want


def test_resume_skips_committed_and_matches_cold(spark, corpus, tmp_path):
    cold_dir, crash_dir = str(tmp_path / "cold"), str(tmp_path / "crash")
    build_index(spark, corpus, cold_dir, segment_size=64, n_buckets=4, block_size=16, n_batches=4)

    # crash after 2 of 4 batches
    r = build_index(
        spark, corpus, crash_dir, segment_size=64, n_buckets=4, block_size=16,
        n_batches=4, stop_after_batches=2,
    )
    assert r == {"stopped_after": 2}
    committed = lin.committed_batches(crash_dir)
    assert len(committed) == 2

    # record lineage mtimes to prove committed batches are not rebuilt
    import os
    before = {
        b: os.path.getmtime(f"{crash_dir}/lineage/batch_{b}.json") for b in committed
    }
    build_index(spark, corpus, crash_dir, segment_size=64, n_buckets=4, block_size=16, n_batches=4)
    for b, t in before.items():
        assert os.path.getmtime(f"{crash_dir}/lineage/batch_{b}.json") == t

    # resumed index answers identically to the cold one
    cold, warm = InvertedIndex(spark, cold_dir), InvertedIndex(spark, crash_dir)
    assert cold.meta["n_docs"] == warm.meta["n_docs"] == 500
    for q, lang in QUERIES[:3]:
        a = [(r["doc_id"], r["score"]) for r in cold.bm25_topk(q, 10, lang).collect()]
        b_ = [(r["doc_id"], r["score"]) for r in warm.bm25_topk(q, 10, lang).collect()]
        assert a == b_


def test_lineage_rows_have_metrics(index):
    rows = lin.read_lineage(index.path)
    assert len(rows) == 3
    for r in rows:
        assert r["status"] == "COMMITTED"
        assert r["n_docs"] > 0 and r["bytes"] > 0 and r["n_postings"] > 0
        assert r["doc_hi"] > r["doc_lo"]


def test_partition_lineage_consistent_with_batch_totals(index):
    """Each batch manifest carries per-(lang, term_bucket) partition rows —
    partition id, term range, counts, bytes — whose sums must equal the
    batch-level counters and whose term ranges must be orderable."""
    rows = lin.read_lineage(index.path)
    for r in rows:
        parts = r["partitions"]
        assert parts, "batch manifest must list its partitions"
        assert sum(p["n_blocks"] for p in parts) == r["n_blocks"]
        assert sum(p["n_postings"] for p in parts) == r["n_postings"]
        assert sum(p["bytes"] for p in parts) <= r["bytes"]  # + _SUCCESS etc
        for p in parts:
            assert p["term_range"][0] <= p["term_range"][1]
            assert 0 < p["n_terms"] <= p["n_blocks"]


def test_batch_multi_chunk_matches_single(index):
    """>64 queries exercises the query-dimension chunking (64 per kernel):
    results must be identical to the single-chunk/per-query paths."""
    base = ["hash join merge scan", "the row data", "vector",
            "fast slow small merge sort", "spark window dup"]
    batch = {i: base[i % len(base)] for i in range(70)}
    got = index.bm25_topk_batch(batch, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    singles = {
        q: [(r["doc_id"], r["score"]) for r in index.bm25_topk(q, 5).collect()]
        for q in base
    }
    assert set(by_q) == set(batch)
    for qid, q in batch.items():
        assert by_q[qid] == singles[q], f"chunked batch diverges for {q!r} (qid {qid})"


def test_resume_refuses_different_corpus_snapshot(spark, sf_smoke, corpus, tmp_path):
    """A batch committed under one corpus snapshot must not be reused for
    another input (the Iceberg-snapshot resume contract). Covers both the
    file-listing fingerprint fallback and an explicit snapshot id."""
    out = str(tmp_path / "snap_idx")
    # distinct file-backed corpora (a DF whose plan matches the session's
    # cached corpus resolves to InMemoryRelation and loses file lineage —
    # on Iceberg the caller passes snapshot_id explicitly instead)
    a_dir, other_dir = tmp_path / "corpus_a", tmp_path / "other_corpus"
    corpus.write.parquet(str(a_dir))
    corpus.limit(100).write.parquet(str(other_dir))
    fresh = spark.read.parquet(str(a_dir))
    build_index(spark, fresh, out, segment_size=256, n_buckets=8,
                block_size=64, n_batches=2, stop_after_batches=1)

    other = spark.read.parquet(str(other_dir))
    with pytest.raises(ValueError, match="snapshot"):
        build_index(spark, other, out, segment_size=256, n_buckets=8,
                    block_size=64, n_batches=2)
    with pytest.raises(ValueError, match="snapshot"):
        build_index(spark, fresh, out, segment_size=256, n_buckets=8,
                    block_size=64, n_batches=2, snapshot_id="iceberg-snap-42")
    # same snapshot -> resume completes the remaining batch
    meta = build_index(spark, fresh, out, segment_size=256, n_buckets=8,
                       block_size=64, n_batches=2)
    assert meta["batches"] == [0, 1]


def test_extend_index_appends_new_snapshot(spark, corpus, tmp_path):
    """Build on the first half of the corpus, extend with the second half:
    queries against the extended index are rank- AND score-identical to a
    full-corpus scan (global BM25 stats re-derived over all batches), and
    the new batch's lineage row carries its own snapshot."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import extend_index

    out = str(tmp_path / "idx")
    # split on a segment boundary (segment_size 64): the extension
    # contract requires increment ids above the indexed segment frontier
    first = corpus.filter(F.col("doc_id") < 256)
    second = corpus.filter(F.col("doc_id") >= 256)
    build_index(spark, first, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2)
    meta = extend_index(spark, second, out, snapshot_id="snap-2")
    assert meta["n_docs"] == 500

    idx = InvertedIndex(spark, out)
    for q, lang in QUERIES[:4]:
        got = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, 10, lang).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk_scan(corpus, q, 10, lang).collect()]
        assert got == want, (q, got[:3], want[:3])

    rows = lin.read_lineage(out)
    snaps = {r["batch_id"]: r.get("corpus_snapshot") for r in rows}
    assert snaps[max(snaps)] == "snap-2"
    assert len(snaps) == 3  # 2 base batches + 1 extension


def test_extend_index_refuses_overlapping_ids(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import extend_index

    out = str(tmp_path / "idx")
    build_index(spark, corpus.filter(F.col("doc_id") < 250), out,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1)
    with pytest.raises(ValueError, match="append-only"):
        extend_index(spark, corpus.filter(F.col("doc_id") < 100), out)


def test_compact_index_single_batch_identical_queries(spark, corpus, tmp_path):
    """Base build (2 batches) + one extension, compacted to a fresh dir:
    one batch, one lineage row carrying the provenance chain, identical
    corpus stats, and rank+score-identical queries vs the full scan."""
    import os

    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import compact_index, extend_index

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    build_index(spark, corpus.filter(F.col("doc_id") < 256), src,
                segment_size=64, n_buckets=4, block_size=16, n_batches=2)
    src_meta = extend_index(spark, corpus.filter(F.col("doc_id") >= 256), src,
                            snapshot_id="snap-2")
    meta = compact_index(spark, src, dst)

    assert meta["batches"] == [0]
    for key in ("n_docs", "sum_dl", "n_terms", "n_postings", "per_lang"):
        assert meta[key] == src_meta[key], key
    rows = lin.read_lineage(dst)
    assert len(rows) == 1
    assert [e["batch_id"] for e in rows[0]["compacted_from"]] == [0, 1, 2]
    assert rows[0]["n_postings"] == meta["n_postings"]
    assert sorted(os.listdir(f"{dst}/postings")) == ["batch=0"]

    idx = InvertedIndex(spark, dst)
    for q, lang in QUERIES[:4]:
        got = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, 10, lang).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk_scan(corpus, q, 10, lang).collect()]
        assert got == want, (q, got[:3], want[:3])


def test_compact_index_refusals(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import compact_index

    src = str(tmp_path / "src")
    build_index(spark, corpus.filter(F.col("doc_id") < 128), src,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1)
    with pytest.raises(ValueError, match="in-place"):
        compact_index(spark, src, src + "/")
    dst = str(tmp_path / "dst")
    compact_index(spark, src, dst)
    with pytest.raises(ValueError, match="committed batches"):
        compact_index(spark, src, dst)
    with pytest.raises(ValueError, match="no committed batches"):
        compact_index(spark, str(tmp_path / "empty"), str(tmp_path / "x"))


def test_time_travel_as_of_batch(spark, corpus, index):
    """as_of_batch=N must be rank- AND score-identical to a scan over the
    corpus as it stood when batch N committed (batches are doc-id ranges:
    3 batches over 8 segments of 64 -> frontiers 192 / 384 / 500)."""
    from pyspark.sql import functions as F

    for as_of, hi in [(0, 192), (1, 384), (2, 500)]:
        idx = InvertedIndex(spark, index.path, as_of_batch=as_of)
        hist = corpus.filter(F.col("doc_id") < hi)
        for q, lang in QUERIES[:4]:
            got = [(r["doc_id"], r["score"])
                   for r in idx.bm25_topk(q, 10, lang).collect()]
            want = [(r["doc_id"], r["score"])
                    for r in bm25_topk_scan(hist, q, 10, lang).collect()]
            assert got == want, (as_of, q, got[:3], want[:3])

    with pytest.raises(ValueError, match="not a committed batch"):
        InvertedIndex(spark, index.path, as_of_batch=9)


def test_term_stats_sources_agree(spark, tmp_path):
    """term_df / term_cf answer identically from all three sources — the
    driver dictionary cache, the pruned dictionary parquet read (forced
    by lifting n_terms over the cache cap) and the as-of block metadata
    at the last batch — for lang=None (summed over langs) and per lang,
    on multi-lang, single-lang and absent terms."""
    docs = [
        (0, "merge join hash", "en"), (1, "merge sort", "en"),
        (2, "merge tabelle", "de"), (3, "tabelle tabelle zeile", "de"),
        (4, "join ligne ligne", "fr"), (5, "hash hash", "en"),
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, content string, lang string")
    out = str(tmp_path / "stats_idx")
    build_index(spark, corpus, out, segment_size=2, n_buckets=2,
                block_size=4, n_batches=2, known_max_doc=5)
    dict_rows = spark.read.parquet(f"{out}/dictionary").collect()
    terms = ["merge", "join", "tabelle", "hash", "nonexistentterm"]

    cached = InvertedIndex(spark, out)
    assert cached.meta["n_terms"] <= cached.DICT_CACHE_MAX_TERMS
    scanned = InvertedIndex(spark, out)
    scanned.meta["n_terms"] = scanned.DICT_CACHE_MAX_TERMS + 1
    last = max(r["batch_id"] for r in lin.read_lineage(out))
    as_of = InvertedIndex(spark, out, as_of_batch=last)

    assert cached.term_df(terms) == {"merge": 3, "join": 2, "tabelle": 2, "hash": 2}
    assert cached.term_cf(["tabelle", "hash"], "de") == {"tabelle": 3}
    for lang in (None, "en", "de", "fr"):
        for stat in ("df", "cf"):
            want: dict[str, int] = {}
            for r in dict_rows:
                if r["term"] in terms and lang in (None, r["lang"]):
                    want[r["term"]] = want.get(r["term"], 0) + r[stat]
            for ix in (cached, scanned, as_of):
                got = getattr(ix, f"term_{stat}")(terms, lang)
                assert got == want, (stat, lang, ix.as_of, got, want)
    assert cached._dict_cache is not None and scanned._dict_cache is None


def test_prefix_search_vs_oracle(spark, index, sf_smoke):
    """bm25_topk_prefix == DuckDB oracle (expansion ranked df desc/term asc,
    capped, then OR-scored with per-term idf)."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_prefix_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    for prefix, lang, mx in [("wi", None, 64), ("s", "en", 64),
                             ("ha", None, 3), ("zzzqq", None, 64)]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_prefix(prefix, 10, lang, mx).collect()]
        want = [tuple(r) for r in
                con.execute(bm25_prefix_oracle_sql(prefix, 10, lang, mx)).fetchall()]
        assert got == want, (prefix, lang, mx, got[:3], want[:3])


def test_fuzzy_search_vs_oracle(spark, index, sf_smoke):
    """bm25_topk_fuzzy == DuckDB oracle (expansion = dictionary terms with
    levenshtein <= d, ranked df desc/term asc, capped, OR-scored)."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_fuzzy_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    for term, d, lang, mx in [("dat", 2, None, 64), ("soet", 1, None, 64),
                              ("hush", 1, "en", 64), ("dat", 2, None, 3),
                              ("zzzqq", 1, None, 64)]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_fuzzy(term, d, 10, lang, mx).collect()]
        want = [tuple(r) for r in
                con.execute(bm25_fuzzy_oracle_sql(term, d, 10, lang, mx)).fetchall()]
        assert got == want, (term, d, lang, mx, got[:3], want[:3])


def test_damerau_levenshtein_matches_duckdb():
    """The driver-side unrestricted-DL DP must compute the exact metric
    DuckDB's ``damerau_levenshtein`` does (the oracle contract), including
    the unrestricted corner where an edit lands between a transposed pair
    (ca->abc = 2, where OSA would say 3)."""
    import duckdb

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smse_backend_spark.index.query import _damerau_levenshtein

    con = duckdb.connect()
    # pinned corners: transposition, unrestricted-vs-OSA, empty, equal
    for a, b in [("ca", "abc"), ("ab", "ba"), ("tabel", "table"),
                 ("", "xy"), ("same", "same"), ("a", ""), ("abcd", "acbd")]:
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert _damerau_levenshtein(a, b) == want, (a, b)

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="abcde", max_size=8),
           st.text(alphabet="abcde", max_size=8))
    def prop(a, b):
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert _damerau_levenshtein(a, b) == want, (a, b)

    prop()


def test_fuzzy_transpositions_vs_oracle(spark, index, sf_smoke):
    """bm25_topk_fuzzy(transpositions=True) == DuckDB damerau_levenshtein
    oracle; 'tabel'~1 must reach 'table' (a pure transposition the plain
    metric prices at 2)."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_fuzzy_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    assert "table" in index.expand_fuzzy("tabel", 1, transpositions=True)
    assert "table" not in index.expand_fuzzy("tabel", 1)
    for term, d, lang, mx in [("tabel", 1, None, 64), ("dat", 2, None, 64),
                              ("soet", 1, "en", 8)]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_fuzzy(
                   term, d, 10, lang, mx, transpositions=True).collect()]
        want = [tuple(r) for r in con.execute(bm25_fuzzy_oracle_sql(
            term, d, 10, lang, mx, transpositions=True)).fetchall()]
        assert got == want, (term, d, lang, mx, got[:3], want[:3])


def test_fuzzy_transpositions_cache_and_scan_paths_agree(index):
    """The driver-cache DL walk and the pandas-UDF dictionary scan must
    produce the identical ranked expansion."""
    for term, d in [("tabel", 1), ("dat", 2)]:
        cached = index.expand_fuzzy(term, d, transpositions=True)
        saved = index.meta.get("n_terms")
        try:
            index.meta["n_terms"] = index.DICT_CACHE_MAX_TERMS + 1
            scanned = index.expand_fuzzy(term, d, transpositions=True)
        finally:
            index.meta["n_terms"] = saved
        assert cached == scanned, (term, d, cached, scanned)


def test_fuzzy_expansion_cache_and_scan_paths_agree(index):
    """The driver-cache dictionary walk and the JVM levenshtein scan must
    produce the identical ranked expansion (both metrics are standard
    Levenshtein); exercised by forcing the scan path via the cache gate."""
    for term, d in [("dat", 2), ("soet", 1), ("merge", 0)]:
        cached = index.expand_fuzzy(term, d)
        saved = index.meta.get("n_terms")
        try:
            index.meta["n_terms"] = index.DICT_CACHE_MAX_TERMS + 1
            scanned = index.expand_fuzzy(term, d)
        finally:
            index.meta["n_terms"] = saved
        assert cached == scanned, (term, d, cached, scanned)
    assert index.expand_fuzzy("merge", 0) == ["merge"]
    with pytest.raises(ValueError, match="exactly one term"):
        index.expand_fuzzy("two terms", 1)


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_pos"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2, with_positions=True)
    return InvertedIndex(spark, out)


def test_phrase_search_vs_oracle(spark, pos_index, sf_smoke):
    import duckdb

    from smse_backend_spark.operators.search import bm25_phrase_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    nonzero = 0
    for phrase, lang in [("table scan", None), ("batch batch", None),
                         ("spark window window", None), ("merge sort", "en"),
                         ("zzqq nohit", None)]:
        got = [(r["doc_id"], r["score"])
               for r in pos_index.phrase_topk(phrase, 10, lang).collect()]
        want = [tuple(r) for r in
                con.execute(bm25_phrase_oracle_sql(phrase, 10, lang)).fetchall()]
        assert got == want, (phrase, lang, got[:3], want[:3])
        nonzero += bool(got)
    assert nonzero >= 3  # the corpus really contains these phrases


def test_positional_index_term_queries_unchanged(spark, corpus, pos_index):
    """The poss column is additive: ordinary BM25 over a positional index
    is rank- and score-identical to the scan."""
    for q, lang in QUERIES[:3]:
        got = [(r["doc_id"], r["score"])
               for r in pos_index.bm25_topk(q, 10, lang).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk_scan(corpus, q, 10, lang).collect()]
        assert got == want, (q, got[:3], want[:3])


def test_phrase_requires_positional_index(spark, index):
    with pytest.raises(ValueError, match="with_positions"):
        index.phrase_topk("table scan")


def test_must_not_filter_vs_oracle(spark, index, sf_smoke):
    """MUST_NOT drops docs containing the excluded term; survivor scores
    are unchanged (global stats — Lucene filter semantics)."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_scan_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    q = "hash join merge scan"
    got = [(r["doc_id"], r["score"])
           for r in index.bm25_topk_filtered(q, must_not=["window"]).collect()]
    sql = bm25_scan_oracle_sql(
        q, exclude_where="tf.doc_id NOT IN "
        "(SELECT DISTINCT doc_id FROM tok WHERE term = 'window')")
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == want, (got[:3], want[:3])
    # survivors keep their unfiltered scores
    plain = {r["doc_id"]: r["score"] for r in index.bm25_topk(q, 500).collect()}
    assert all(plain[d] == s for d, s in got)
    # and the empty-exclusion case degenerates to the plain query
    got0 = [(r["doc_id"], r["score"])
            for r in index.bm25_topk_filtered(q).collect()]
    assert got0 == list(plain.items())[:10]


def test_check_index_integrity(spark, corpus, tmp_path):
    import json
    import os
    import shutil

    from smse_backend_spark.index.build import check_index

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2)
    res = check_index(spark, out)
    assert res["ok"] and res["batches"] == 2, res

    # tamper with a lineage counter -> detected
    path = os.path.join(out, "lineage", "batch_1.json")
    row = json.load(open(path))
    row["n_postings"] += 7
    json.dump(row, open(path, "w"))
    res2 = check_index(spark, out)
    assert not res2["ok"]
    assert any("n_postings" in p for p in res2["problems"]), res2
    row["n_postings"] -= 7
    json.dump(row, open(path, "w"))

    # drop a batch's docstats -> detected
    shutil.rmtree(os.path.join(out, "docstats", "batch=1"))
    res3 = check_index(spark, out)
    assert not res3["ok"]
    assert any("missing" in p or "n_docs" in p for p in res3["problems"]), res3


@pytest.fixture(scope="module")
def oracle_con(sf_smoke):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    return con


def test_min_should_match_vs_oracle(index, oracle_con):
    """bm25_topk_msm == scan oracle with HAVING n matched terms >= m;
    m=None is conjunctive AND."""
    from smse_backend_spark.operators.search import (
        bm25_scan_oracle_sql,
        query_terms,
    )

    for q, m, lang in [("hash join merge scan", 2, None),
                       ("hash join merge scan", 3, None),
                       ("hash join merge scan", None, None),
                       ("the fast small slow", None, None),
                       ("batch stream spark window", 3, "en"),
                       ("window nonexistentterm", None, None)]:
        mm = len(query_terms(q)) if m is None else m
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_msm(q, m, 10, lang).collect()]
        want = [tuple(r) for r in oracle_con.execute(
            bm25_scan_oracle_sql(q, 10, lang, min_match=mm)).fetchall()]
        assert got == want, (q, m, lang, got[:3], want[:3])


def test_min_should_match_scan_parity(corpus, index):
    """The scan operator's min_match filter agrees with the indexed path."""
    for q, m in [("hash join merge scan", 2), ("the row data column", 4)]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_msm(q, m, 10).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk_scan(corpus, q, 10, min_match=m).collect()]
        assert got == want, (q, m, got[:3], want[:3])
    # m=1 degenerates to the plain OR query
    got1 = [(r["doc_id"], r["score"])
            for r in index.bm25_topk_msm("hash join", 1, 10).collect()]
    want1 = [(r["doc_id"], r["score"])
             for r in index.bm25_topk("hash join", 10).collect()]
    assert got1 == want1


def test_hit_count_vs_oracle(index, oracle_con):
    from smse_backend_spark.operators.search import hit_count_oracle_sql

    for q, lang in [("hash join", None), ("window", "en"),
                    ("nonexistentterm", None)]:
        got = index.count_matches(q, lang).first()["n_hits"]
        want = oracle_con.execute(hit_count_oracle_sql(q, lang)).fetchone()[0]
        assert got == want, (q, lang, got, want)


def test_facet_counts_vs_oracle(corpus, index, oracle_con):
    from smse_backend_spark.operators.search import facet_counts_oracle_sql

    for q in ["hash join merge scan", "window"]:
        got = [tuple(r) for r in index.facet_counts(corpus, q).collect()]
        want = [tuple(r) for r in
                oracle_con.execute(facet_counts_oracle_sql(q)).fetchall()]
        assert got == want, (q, got[:3], want[:3])
        assert got  # the match set is non-empty for these queries


def test_more_like_this_vs_oracle(corpus, index, oracle_con):
    from smse_backend_spark.operators.search import more_like_this_oracle_sql

    for src_doc, mt in [(7, 8), (123, 8), (42, 4)]:
        got = [(r["doc_id"], r["score"])
               for r in index.more_like_this(corpus, src_doc,
                                             10, max_terms=mt).collect()]
        want = [tuple(r) for r in oracle_con.execute(
            more_like_this_oracle_sql(src_doc, 10, max_terms=mt)).fetchall()]
        assert got == want, (src_doc, mt, got[:3], want[:3])
        assert src_doc not in [d for d, _ in got]


def test_suggest_vs_oracle(index, oracle_con):
    from smse_backend_spark.operators.search import suggest_oracle_sql

    for term, d, n in [("soet", 1, 10), ("dat", 2, 10), ("hash", 1, 5),
                       ("zzzqq", 2, 10)]:
        got = [(r["term"], r["df"], r["dist"])
               for r in index.suggest(term, d, n).collect()]
        want = [tuple(r) for r in
                oracle_con.execute(suggest_oracle_sql(term, d, n)).fetchall()]
        assert got == want, (term, d, got[:3], want[:3])


def test_span_not_vs_oracle(pos_index, spark, oracle_con):
    from smse_backend_spark.operators.search import span_not_oracle_sql

    ix = pos_index
    for inc, exc, dist in [("scan", "table", 3), ("scan", "table", 0),
                           ("table", "scan", 2),
                           ("scan", "zzzqqabsent", 5)]:
        got = [tuple(r) for r in
               ix.span_not_topk(inc, exc, dist, 1000).collect()]
        want = [tuple(w) for w in oracle_con.execute(
            span_not_oracle_sql(inc, exc, dist, 1000)).fetchall()]
        assert got == want, (inc, exc, dist, got[:3], want[:3])
    # an absent exclude term excludes nothing: identical to dist=0 with
    # an exclude that never lands within range of anything
    assert [tuple(r) for r in
            ix.span_not_topk("scan", "zzzqqabsent", 10**6, 1000).collect()
            ] == [tuple(r) for r in
                  ix.span_not_topk("scan", "zzzqqabsent", 0, 1000).collect()]
    # widening dist removes occurrences monotonically: match set shrinks
    narrow = {r["doc_id"] for r in ix.span_not_topk("scan", "table", 0, 10**6).collect()}
    wide = {r["doc_id"] for r in ix.span_not_topk("scan", "table", 50, 10**6).collect()}
    assert wide <= narrow
    with pytest.raises(ValueError, match="must differ"):
        ix.span_not_topk("scan", "scan", 1)
    with pytest.raises(ValueError, match="exactly one"):
        ix.span_not_topk("scan filter", "table", 1)


def test_span_not_kernel_vs_bruteforce():
    """Property: the searchsorted nearest-exclude sweep == brute-force
    'occurrence survives iff no exclude within dist' over random
    position sets."""
    import random

    from smse_backend_spark.index.query import _make_span_not_matcher  # noqa: F401

    rng = random.Random(7)
    for _ in range(200):
        inc = sorted(rng.sample(range(60), rng.randint(1, 10)))
        exc = sorted(rng.sample(range(60), rng.randint(0, 10)))
        dist = rng.randint(0, 8)
        want = sum(
            1 for p in inc if all(abs(p - q) > dist for q in exc)
        )
        pos = np.array(inc, dtype=np.int64)
        ex = np.array(exc, dtype=np.int64)
        if ex.size == 0:
            got = pos.size
        else:
            big = np.int64(1 << 60)
            ix_ = np.searchsorted(ex, pos)
            left = np.where(ix_ > 0, pos - ex[np.maximum(ix_ - 1, 0)], big)
            right = np.where(
                ix_ < ex.size, ex[np.minimum(ix_, ex.size - 1)] - pos, big
            )
            got = int((np.minimum(left, right) > dist).sum())
        assert got == want, (inc, exc, dist)


def test_near_search_vs_oracle(pos_index, oracle_con):
    from smse_backend_spark.operators.search import near_oracle_sql

    nonzero = 0
    for q, w, lang in [("table scan", 1, None), ("table scan", 8, None),
                       ("hash merge sort", 12, None), ("merge sort", 3, "en"),
                       ("window", 1, None), ("zzqq nohit", 5, None)]:
        got = [(r["doc_id"], r["score"])
               for r in pos_index.near_topk(q, w, 10, lang).collect()]
        want = [tuple(r) for r in
                oracle_con.execute(near_oracle_sql(q, w, 10, lang)).fetchall()]
        assert got == want, (q, w, lang, got[:3], want[:3])
        nonzero += bool(got)
    assert nonzero >= 4


def test_near_window_widens_monotonically(pos_index):
    """A larger window can only admit more docs, and an admitted doc keeps
    the same (window-independent) score."""
    sets = {}
    for w in (1, 4, 16):
        sets[w] = {r["doc_id"]: r["score"]
                   for r in pos_index.near_topk("hash merge", w, 500).collect()}
    assert set(sets[1]) <= set(sets[4]) <= set(sets[16])
    for d, s in sets[1].items():
        assert sets[16][d] == s


def test_near_requires_positional_index(index):
    with pytest.raises(ValueError, match="with_positions"):
        index.near_topk("table scan", 3)


def test_merge_indexes(spark, corpus, index, tmp_path):
    """Two disjoint half-corpus indexes merged == one full-corpus index:
    identical query results AND byte-identical global stats."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import merge_indexes

    a, b, m = (str(tmp_path / x) for x in ("half_a", "half_b", "merged"))
    lo = corpus.filter(F.col("doc_id") < 256)
    hi = corpus.filter(F.col("doc_id") >= 256)
    build_index(spark, lo, a, segment_size=64, n_buckets=4, block_size=16,
                n_batches=2)
    build_index(spark, hi, b, segment_size=64, n_buckets=4, block_size=16,
                n_batches=2)
    meta = merge_indexes(spark, [a, b], m)
    assert meta["n_docs"] == index.meta["n_docs"]
    assert meta["sum_dl"] == index.meta["sum_dl"]
    assert meta["n_terms"] == index.meta["n_terms"]
    assert meta["n_postings"] == index.meta["n_postings"]
    midx = InvertedIndex(spark, m)
    for q, lang in QUERIES[:4]:
        got = [(r["doc_id"], r["score"])
               for r in midx.bm25_topk(q, 10, lang).collect()]
        want = [(r["doc_id"], r["score"])
                for r in index.bm25_topk(q, 10, lang).collect()]
        assert got == want, (q, got[:3], want[:3])


def test_merge_refuses_overlap_and_config_mismatch(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import merge_indexes

    a, b, c = (str(tmp_path / x) for x in ("ov_a", "ov_b", "cfg_c"))
    build_index(spark, corpus.filter(F.col("doc_id") < 256), a,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1)
    build_index(spark, corpus.filter(F.col("doc_id") < 128), b,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1)
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(spark, [a, b], str(tmp_path / "m1"))
    build_index(spark, corpus.filter(F.col("doc_id") >= 256), c,
                segment_size=128, n_buckets=4, block_size=16, n_batches=1)
    with pytest.raises(ValueError, match="identical"):
        merge_indexes(spark, [a, c], str(tmp_path / "m2"))


def test_merge_carries_tombstones(spark, corpus, tmp_path):
    """Soft deletes in a source survive the merge as one unioned commit."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index import deletes
    from smse_backend_spark.index.build import merge_indexes

    a, b, m = (str(tmp_path / x) for x in ("ta", "tb", "tm"))
    lo = corpus.filter(F.col("doc_id") < 256)
    hi = corpus.filter(F.col("doc_id") >= 256)
    build_index(spark, lo, a, segment_size=64, n_buckets=4, block_size=16,
                n_batches=1)
    build_index(spark, hi, b, segment_size=64, n_buckets=4, block_size=16,
                n_batches=1)
    deletes.delete_docs(spark, a, [3, 5])
    deletes.delete_docs(spark, b, [300])
    merge_indexes(spark, [a, b], m)
    midx = InvertedIndex(spark, m)
    survivors = {r["doc_id"] for r in midx.bm25_topk("the row data", 500).collect()}
    assert {3, 5, 300}.isdisjoint(survivors)
    assert deletes.tombstone_count(m) == 3


def test_boosted_search_vs_oracle(spark, index, sf_smoke):
    """bm25_topk_boosted == DuckDB oracle (boost scales idf BEFORE scoring,
    Lucene term^boost; unboosted terms default to 1.0)."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_boosted_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    for boosts, lang in [
        ({"hash": 2.0, "join": 1.0, "scan": 0.5}, None),
        ({"window": 3.0}, None),
        ({"batch stream": 2.0, "spark": 1.0}, "en"),
        ({"zzzqq": 2.0}, None),
    ]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_boosted(boosts, 10, lang).collect()]
        want = [tuple(r) for r in
                con.execute(bm25_boosted_oracle_sql(boosts, 10, lang)).fetchall()]
        assert got == want, (boosts, lang, got[:3], want[:3])


def test_synonym_search_vs_oracle(spark, index, sf_smoke):
    """bm25_topk_synonyms == DuckDB oracle (group = one pseudo-term:
    tf summed, idf from the group's max df — Lucene SynonymQuery)."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_synonyms_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    for groups, lang in [
        ([["join", "merge"], ["scan", "window"], ["hash"]], None),
        ([["the"], ["row", "data", "column"]], None),
        ([["batch stream"], ["spark"]], "en"),
        ([["zzzqq", "join"]], None),
        ([["zzzqq"]], None),
    ]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_synonyms(groups, 10, lang).collect()]
        want = [tuple(r) for r in
                con.execute(bm25_synonyms_oracle_sql(groups, 10, lang)).fetchall()]
        assert got == want, (groups, lang, got[:3], want[:3])
    with pytest.raises(ValueError, match="disjoint"):
        index.bm25_topk_synonyms([["join"], ["join", "merge"]])


def test_regex_search_vs_oracle(spark, index, sf_smoke):
    """bm25_topk_regex == DuckDB oracle (full-match expansion ranked
    df desc / term asc, capped, OR-scored). RE2-compatible patterns only."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_regex_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    for pat, lang, mx in [
        ("sc[a-z]n|ha.h", None, 64),
        ("w.*w", None, 64),
        ("s.+", "en", 5),
        ("zzz.*", None, 64),
    ]:
        got = [(r["doc_id"], r["score"])
               for r in index.bm25_topk_regex(pat, 10, lang, mx).collect()]
        want = [tuple(r) for r in
                con.execute(bm25_regex_oracle_sql(pat, 10, lang, mx)).fetchall()]
        assert got == want, (pat, lang, mx, got[:3], want[:3])


def test_explain_scores_vs_oracle(spark, index, sf_smoke):
    """explain_scores == DuckDB oracle: per-(doc, term) BM25 contribution
    rows for the top-k docs, 6dp floored-half rounding on both engines."""
    import duckdb

    from smse_backend_spark.operators.search import explain_scores_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    for q, lang in [("hash join merge scan", None), ("window", None),
                    ("batch stream spark", "en"), ("zzzqq", None)]:
        got = sorted(map(tuple, index.explain_scores(q, 10, lang).collect()))
        want = sorted(map(tuple,
                          con.execute(explain_scores_oracle_sql(q, 10, lang)).fetchall()))
        assert got == want, (q, lang, got[:2], want[:2])
    # contribs of a doc must sum (to 6dp) to its reported score
    rows = index.explain_scores("hash join merge scan", 5).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        assert abs(sum(x["contrib"] for x in rs) - rs[0]["score"]) < 5e-6, doc


def test_indexed_range_filter_vs_oracle(spark, index, sf_smoke):
    """Doc-value (dl) range FILTER on the index path: candidates
    restricted, stats corpus-wide; matches the scan oracle with a
    doc_len predicate."""
    import duckdb

    from smse_backend_spark.operators.search import bm25_scan_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    q = "hash join merge scan"
    got = [(r["doc_id"], r["score"])
           for r in index.bm25_topk_range(q, 20, 40, 10).collect()]
    want = con.execute(bm25_scan_oracle_sql(
        q, 10, exclude_where="tf.doc_len BETWEEN 20 AND 40"
    )).fetchall()
    assert got == [tuple(w) for w in want]
    assert got  # the band covers typical docs at this sf


def test_stemmed_index_rank_identity(spark, sf_smoke):
    """analyzer="stem" at build time == stem=True scan at query time, for
    queries with and without foldable plurals; config round-trips so a
    reopened handle stems queries automatically."""
    import tempfile

    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex
    from smse_backend_spark.operators.search import bm25_topk_scan

    corpus = load_corpus(spark, sf_smoke)
    out = tempfile.mkdtemp(prefix="smse_idx_stem_")
    build_index(spark, corpus, out, segment_size=256, n_buckets=8,
                block_size=64, n_batches=2, analyzer="stem")
    idx = InvertedIndex(spark, out)
    assert idx.analyzer == "stem"
    for q in ["tables scans windows merges", "hash join", "queries"]:
        got = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, 10).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk_scan(corpus, q, 10, stem=True).collect()]
        assert got == want, q
    # EVERY free-text entry point must stem to the index's term space —
    # an unstemmed path would silently miss the stemmed postings
    q = "tables scans"
    top = idx.bm25_topk(q, 10).collect()
    assert top, "stemmed plural query must hit the stemmed postings"
    assert idx.bm25_topk_batch({0: q}, 10).count() > 0
    assert idx.count_matches(q).first()["n_hits"] > 0
    assert idx.explain_scores(q, 5).count() > 0
    assert idx.bm25_topk_msm(q, 2, 10).count() > 0
    filt = idx.bm25_topk_filtered(q, must_not=["windows"])
    assert filt.count() > 0
    # batch and single-query paths agree in the stemmed space
    batch = [(r["doc_id"], r["score"])
             for r in idx.bm25_topk_batch({0: q}, 10).collect()]
    single = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, 10).collect()]
    assert batch == single


def test_block_layout_invariant_to_seg_range_grouping(spark, corpus, tmp_path):
    """Index bytes must not depend on the kernel-group granularity knob:
    per-segment groups and one-giant-group builds yield the same rows."""
    from smse_backend_spark.index import build as B

    real = B.block_builder_seg_range
    outs = {}
    try:
        for name, width in (("fine", 1), ("huge", 10**6)):
            B.block_builder_seg_range = lambda *a, _w=width: _w
            out = str(tmp_path / f"idx_{name}")
            B.build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                          block_size=16, n_batches=2)
            outs[name] = out
    finally:
        B.block_builder_seg_range = real
    a = sorted(map(tuple, spark.read.parquet(f"{outs['fine']}/postings").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{outs['huge']}/postings").collect()))
    assert a == b and len(a) > 0


def test_hot_term_skew_bounded_by_segments(spark, tmp_path):
    """Structural skew handling: a term present in EVERY doc must never
    concentrate in one reducer group — its postings are cut per segment
    (doc-id range), so the largest (term, segment) posting run is bounded
    by segment_size no matter how hot the term is, and per-partition
    lineage shows the load spread across every segment range."""
    from pyspark.sql import functions as F

    n, seg_size = 2000, 128
    corpus = spark.range(n).selectExpr(
        "id as doc_id",
        # 'def' in every doc (the hot term), plus a sparse discriminator
        "concat('def import the row ', "
        "case when id % 97 = 0 then 'needle ' else '' end, "
        "'x', cast(id % 13 as string)) as content",
        "'en' as lang",
    )
    out = str(tmp_path / "skew_idx")
    build_index(spark, corpus, out, segment_size=seg_size, n_buckets=4,
                block_size=32, n_batches=1, known_max_doc=n - 1)

    blocks = spark.read.parquet(f"{out}/postings")
    hot = blocks.filter("term = 'def'")
    per_seg = {r["segment"]: r["s"] for r in
               hot.groupBy("segment").agg(F.sum("n").alias("s")).collect()}
    # the hot term appears in every segment, never more than segment_size
    # postings in any one of them (last segment is partial)
    assert len(per_seg) == -(-n // seg_size)
    assert all(s <= seg_size for s in per_seg.values())
    assert sum(per_seg.values()) == n

    # and the index stays rank-identical to the scan on hot+rare mixes
    idx = InvertedIndex(spark, out)
    for q in ("def needle", "def import the"):
        got = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, 10).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk_scan(corpus, q, 10).collect()]
        assert got == want and len(got) == 10


@pytest.fixture(scope="module")
def shard_paths(spark, corpus, tmp_path_factory):
    """Two disjoint half-corpus shard indexes (no merge on disk)."""
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("shards")
    a, b = str(root / "a"), str(root / "b")
    build_index(spark, corpus.filter(F.col("doc_id") < 256), a,
                segment_size=64, n_buckets=4, block_size=16, n_batches=2)
    build_index(spark, corpus.filter(F.col("doc_id") >= 256), b,
                segment_size=64, n_buckets=4, block_size=16, n_batches=2)
    return [a, b]


@pytest.mark.parametrize("query,lang", QUERIES)
def test_sharded_search_rank_identity(spark, index, shard_paths, query, lang):
    """Coordinator-protocol search over two shards == the one-index query
    (same global stats path as a merge_indexes consolidation, never built)."""
    from smse_backend_spark.index.query import sharded_bm25_topk

    got = [(r["doc_id"], r["score"]) for r in
           sharded_bm25_topk(spark, shard_paths, query, 10, lang).collect()]
    want = [(r["doc_id"], r["score"])
            for r in index.bm25_topk(query, 10, lang).collect()]
    assert got == want


def test_sharded_search_applies_shard_tombstones(spark, corpus, tmp_path):
    """Each shard's soft deletes hold in the fan-out query."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index import deletes
    from smse_backend_spark.index.query import sharded_bm25_topk

    a, b = str(tmp_path / "sa"), str(tmp_path / "sb")
    build_index(spark, corpus.filter(F.col("doc_id") < 256), a,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1)
    build_index(spark, corpus.filter(F.col("doc_id") >= 256), b,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1)
    deletes.delete_docs(spark, a, [3, 5])
    deletes.delete_docs(spark, b, [300])
    hits = {r["doc_id"] for r in
            sharded_bm25_topk(spark, [a, b], "the row data", 500).collect()}
    assert {3, 5, 300}.isdisjoint(hits) and hits


def test_sharded_search_refuses_analyzer_mismatch(spark, corpus, shard_paths,
                                                  tmp_path):
    from smse_backend_spark.index.query import sharded_bm25_topk

    c = str(tmp_path / "stemmed_shard")
    build_index(spark, corpus.limit(64), c, segment_size=64, n_buckets=4,
                block_size=16, n_batches=1, analyzer="stem")
    with pytest.raises(ValueError, match="analyzer"):
        sharded_bm25_topk(spark, [shard_paths[0], c], "hash join", 10)


def test_complete_suggester_matches_recount(spark, corpus, index):
    """complete() == a full corpus re-tokenize ranked (cf desc, term asc);
    the driver-cache and dictionary-scan paths agree."""
    from pyspark.sql import functions as F

    from smse_backend_spark.functions.tokenizer import tokenize_col

    want = (
        corpus.select(F.explode(tokenize_col("content")).alias("term"))
        .filter(F.col("term").startswith("sc"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term")).limit(10).collect()
    )
    got = index.complete("sc", 10).collect()
    assert [(r["term"], r["cf"]) for r in got] == [
        (r["term"], r["cf"]) for r in want
    ] and got

    # force the big-vocabulary dictionary-scan fallback: same answer
    index.meta["n_terms"] = InvertedIndex.DICT_CACHE_MAX_TERMS + 1
    try:
        scan = index.complete("sc", 10).collect()
        assert [(r["term"], r["cf"]) for r in scan] == [
            (r["term"], r["cf"]) for r in got
        ]
    finally:
        del index.meta["n_terms"]
        index.meta.update(lin.read_meta(index.path))

    with pytest.raises(ValueError, match="single analyzed token"):
        index.complete("two words")


def test_rescore_phrase_vs_oracle(spark, pos_index, sf_smoke):
    """rescore_phrase_topk == the composed DuckDB oracle (base window +
    weighted phrase add, floor-formula final rounding)."""
    import duckdb

    from smse_backend_spark.operators.search import rescore_phrase_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_smoke}/documents.parquet'"
    )
    got = [(r["doc_id"], r["score"]) for r in pos_index.rescore_phrase_topk(
        "hash join merge scan", "hash join", 30, 2.0, 10).collect()]
    want = con.execute(rescore_phrase_oracle_sql(
        "hash join merge scan", "hash join", 30, 2.0, 10)).fetchall()
    assert got == [(d, s) for d, s in want] and len(got) == 10


def test_rescore_only_reorders_within_window(pos_index):
    """Rescored hits are a subset of the base window; phrase-matching docs
    gain exactly weight*phrase_score; others keep their base score."""
    base = {r["doc_id"]: r["score"]
            for r in pos_index.bm25_topk("hash join merge scan", 30).collect()}
    phrase = {r["doc_id"]: r["score"]
              for r in pos_index.phrase_topk("hash join", 500).collect()}
    got = pos_index.rescore_phrase_topk(
        "hash join merge scan", "hash join", 30, 2.0, 10).collect()
    assert {r["doc_id"] for r in got} <= set(base)
    for r in got:
        want = base[r["doc_id"]] + 2.0 * phrase.get(r["doc_id"], 0.0)
        assert r["score"] == pytest.approx(want, abs=2e-6)
    # at least one doc actually got boosted by the phrase
    assert any(r["doc_id"] in phrase for r in got)


def test_phrase_suggest_vs_oracle(spark, corpus, index, sf_smoke):
    """phrase_suggest == the composed DuckDB oracle (per-position fuzzy
    candidates x bigram-count LM), including zero-count candidates."""
    import duckdb

    from smse_backend_spark.operators.search import phrase_suggest_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_smoke}/documents.parquet'"
    )
    got = [tuple(r) for r in index.phrase_suggest(
        corpus, "bat ky", 2, 6, 10).collect()]
    want = [tuple(r) for r in con.execute(
        phrase_suggest_oracle_sql("bat ky", 2, 6, 10)).fetchall()]
    assert got == want and len(got) > 1
    # scores are non-increasing, ties broken by suggestion asc
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))


def test_phrase_suggest_corrects_typo(corpus, index):
    """Single-edit typos of a frequent collocation rank the corrected
    phrase first, scored by its corpus bigram count."""
    got = index.phrase_suggest(corpus, "hsh joun", 1, 8, 5).collect()
    assert got[0]["suggestion"] == "hash join"
    assert got[0]["score"] > 0

    with pytest.raises(ValueError, match=">= 2 analyzed tokens"):
        index.phrase_suggest(corpus, "hash", 1, 8, 5)


def test_lineage_partitions_match_physical_index(spark, index):
    """The per-partition lineage recorded in the batch manifests equals a
    recount over the physical postings parquet — the checkpoint-integrity
    guarantee a resume relies on."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index.query import lineage_partitions

    lin = lineage_partitions(spark, index.path)
    phys = (
        spark.read.parquet(f"{index.path}/postings")
        .groupBy("batch", "lang", "term_bucket")
        .agg(
            F.min("term").alias("term_lo"), F.max("term").alias("term_hi"),
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("n").cast("long").alias("n_postings"),
        )
    )
    a = sorted(tuple(r) for r in lin.collect())
    b = sorted(
        (int(r["batch"]), r["lang"], int(r["term_bucket"]), r["term_lo"],
         r["term_hi"], int(r["n_terms"]), int(r["n_blocks"]),
         int(r["n_postings"]))
        for r in phys.collect()
    )
    assert a == b and len(a) > 4


def test_sharded_facets_equals_one_index_facets(spark, corpus, index,
                                                shard_paths):
    """Per-shard partial facet counts merged at the coordinator == the
    one-index facet aggregation (counts additive across disjoint shards)."""
    from smse_backend_spark.index.query import sharded_facet_counts

    got = [tuple(r) for r in sharded_facet_counts(
        spark, shard_paths, corpus, "hash join merge scan").collect()]
    want = [tuple(r) for r in index.facet_counts(
        corpus, "hash join merge scan").collect()]
    assert got == want and len(got) > 2


def test_synonym_index_folds_groups(spark, sf_smoke):
    """analyzer="synonym" pools the group into ONE term (merge => join):
    build-time fold == the DuckDB synonym oracle; the reopened handle
    folds query terms via the recorded map; positions are refused."""
    import tempfile

    import duckdb

    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex
    from smse_backend_spark.operators.search import bm25_scan_oracle_sql

    syn = {"merge": "join", "tbl": "table"}
    corpus = load_corpus(spark, sf_smoke)
    out = tempfile.mkdtemp(prefix="smse_idx_syn_")
    build_index(spark, corpus, out, segment_size=256, n_buckets=8,
                block_size=64, n_batches=2, analyzer="synonym", synonyms=syn)
    idx = InvertedIndex(spark, out)
    assert idx.analyzer == "synonym" and idx.synonyms == syn
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_smoke}/documents.parquet'"
    )
    for q in ["hash join merge scan", "merge", "tbl scan"]:
        got = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, 10).collect()]
        want = con.execute(
            bm25_scan_oracle_sql(q, 10, synonyms=syn)
        ).fetchall()
        assert got == [(d, s) for d, s in want], q
    # the folded group is ONE term: querying either spelling is identical
    a = [tuple(r) for r in idx.bm25_topk("merge", 10).collect()]
    b = [tuple(r) for r in idx.bm25_topk("join", 10).collect()]
    assert a == b and a
    # dictionary holds only the canonical term
    assert idx.term_df(["merge", "join"]) .get("merge") is None

    with pytest.raises(NotImplementedError, match="synonym positional"):
        build_index(spark, corpus, tempfile.mkdtemp(), analyzer="synonym",
                    synonyms=syn, with_positions=True)
    with pytest.raises(ValueError, match="non-empty synonyms"):
        build_index(spark, corpus, tempfile.mkdtemp(), analyzer="synonym")


def test_ordered_cover_unit():
    """Greedy in-order span check: order constraint enforced, duplicate
    lists need two distinct strictly-increasing picks."""
    import numpy as np

    from smse_backend_spark.index.query import _ordered_cover_within

    a = [np.array([5]), np.array([2, 8])]
    assert _ordered_cover_within(a, 3)       # 5 -> 8 spans 3
    assert not _ordered_cover_within(a, 2)
    b = [np.array([8]), np.array([2])]       # only reverse order exists
    assert not _ordered_cover_within(b, 10)
    c = [np.array([4, 9]), np.array([4, 9])]
    assert _ordered_cover_within(c, 5)       # picks 4 < 9
    assert not _ordered_cover_within(c, 4)


def test_near_in_order_vs_oracle(spark, pos_index, sf_smoke):
    """in_order=True == the ordered DuckDB twin, and its match set is a
    subset of the unordered one."""
    import duckdb

    from smse_backend_spark.operators.search import near_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_smoke}/documents.parquet'"
    )
    got = [tuple(r) for r in
           pos_index.near_topk("table scan", 6, 10, in_order=True).collect()]
    want = [tuple(r) for r in con.execute(
        near_oracle_sql("table scan", 6, 10, in_order=True)).fetchall()]
    assert got == want and len(got) == 10
    ordered_all = {r["doc_id"] for r in
                   pos_index.near_topk("table scan", 6, 10_000,
                                       in_order=True).collect()}
    unordered_all = {r["doc_id"] for r in
                     pos_index.near_topk("table scan", 6, 10_000).collect()}
    assert ordered_all <= unordered_all
    assert ordered_all != unordered_all  # the constraint actually bites


def test_cover_kernels_match_bruteforce():
    """Property: the greedy ordered sweep and the k-pointer min-cover both
    equal exhaustive search over all pick combinations."""
    import itertools

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smse_backend_spark.index.query import (
        _min_cover_within,
        _ordered_cover_within,
    )

    lists = st.lists(
        st.lists(st.integers(0, 40), min_size=1, max_size=5).map(
            lambda xs: np.array(sorted(set(xs)), dtype=np.int64)
        ),
        min_size=1, max_size=4,
    )

    @settings(max_examples=300, deadline=None)
    @given(lists, st.integers(0, 12))
    def run(pls, w):
        combos = list(itertools.product(*[list(p) for p in pls]))
        brute_any = any(max(c) - min(c) <= w for c in combos)
        brute_ord = any(
            all(c[i] < c[i + 1] for i in range(len(c) - 1))
            and c[-1] - c[0] <= w
            for c in combos
        )
        assert _min_cover_within(pls, w) == brute_any
        assert _ordered_cover_within(pls, w) == brute_ord

    run()


def test_shingle_model_matches_corpus_and_lifecycle(spark, corpus, tmp_path):
    """Stored shingle model == corpus-derived bigram counts; extend adds
    the increment's pairs; shingle-served phrase_suggest == corpus-served;
    compact refuses with tombstones, carries the model otherwise."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index import deletes
    from smse_backend_spark.index.build import compact_index, extend_index

    out = str(tmp_path / "shidx")
    half = corpus.filter(F.col("doc_id") < 256)
    build_index(spark, half, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=1, shingles=True)
    ix = InvertedIndex(spark, out)

    def corpus_bigrams(c):
        from smse_backend_spark.functions.tokenizer import tokenize_col

        t = tokenize_col(F.col("content"))
        adj = F.when(F.size(t) >= 2, F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(F.element_at(t, i).alias("a"),
                               F.element_at(t, i + 1).alias("b")))
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        return {
            (r["a"], r["b"]): r["n"]
            for r in c.select(F.explode(adj).alias("p"))
            .select("p.a", "p.b").groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }

    stored = {(r["a"], r["b"]): r["n"] for r in ix.bigram_counts().collect()}
    assert stored == corpus_bigrams(half)

    extend_index(spark, corpus.filter(F.col("doc_id") >= 256), out)
    ix2 = InvertedIndex(spark, out)
    stored2 = {(r["a"], r["b"]): r["n"] for r in ix2.bigram_counts().collect()}
    assert stored2 == corpus_bigrams(corpus)

    # shingle-served suggester == corpus-served (same candidates, same LM)
    a = [tuple(r) for r in ix2.phrase_suggest(None, "bat ky", 2, 6, 10).collect()]
    b = [tuple(r) for r in ix2.phrase_suggest(corpus, "bat ky", 2, 6, 10).collect()]
    assert a == b and len(a) > 1

    # compact carries the aggregated model
    dst = str(tmp_path / "shidx_c")
    compact_index(spark, out, dst)
    ixc = InvertedIndex(spark, dst)
    assert {(r["a"], r["b"]): r["n"]
            for r in ixc.bigram_counts().collect()} == stored2

    # ... but refuses when tombstones exist (LM can't drop deleted pairs)
    deletes.delete_docs(spark, out, [1, 2])
    with pytest.raises(ValueError, match="shingled index with tombstones"):
        compact_index(spark, out, str(tmp_path / "shidx_c2"))


def test_extend_preserves_synonym_analyzer(spark, corpus, tmp_path):
    """Regression: extend_index must thread the synonym map through to the
    increment's build — an unfolded increment would silently split the
    group's postings across term spaces."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import extend_index

    syn = {"merge": "join"}
    out = str(tmp_path / "synext")
    build_index(spark, corpus.filter(F.col("doc_id") < 256), out,
                segment_size=64, n_buckets=4, block_size=16, n_batches=1,
                analyzer="synonym", synonyms=syn)
    extend_index(spark, corpus.filter(F.col("doc_id") >= 256), out)
    ix = InvertedIndex(spark, out)
    # the raw spelling must not exist anywhere in the extended term space
    assert ix.term_df(["merge", "join"]).get("merge") is None
    # and folded queries still match the full-build twin
    full = str(tmp_path / "synfull")
    build_index(spark, corpus, full, segment_size=64, n_buckets=4,
                block_size=16, n_batches=1, analyzer="synonym", synonyms=syn)
    a = [tuple(r) for r in ix.bm25_topk("merge scan", 10).collect()]
    b = [tuple(r) for r in InvertedIndex(spark, full)
         .bm25_topk("merge scan", 10).collect()]
    assert a == b and a


def test_phrase_prefix_vs_oracle(spark, pos_index, sf_smoke):
    """ES match_phrase_prefix: engine == SQL twin across fixed+prefix,
    prefix-only, lang-restricted, and no-expansion shapes; and the blend
    covers every single-expansion phrase's match set."""
    import duckdb

    from smse_backend_spark.operators.search import phrase_prefix_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    nonzero = 0
    for q, lang in [("hash jo", None), ("table sc", None), ("wi", None),
                    ("merge so", "en"), ("zzqqxx", None)]:
        got = [(r["doc_id"], r["score"])
               for r in pos_index.phrase_prefix_topk(q, 10, lang).collect()]
        want = [tuple(r) for r in
                con.execute(phrase_prefix_oracle_sql(q, 10, lang)).fetchall()]
        assert got == want, (q, lang, got[:3], want[:3])
        nonzero += bool(got)
    assert nonzero >= 3
    # blend-coverage invariant: every doc matching the expanded exact
    # phrase "hash join" must appear in the "hash jo" blended match set
    exact = {r["doc_id"] for r in pos_index.phrase_topk("hash join", 1000).collect()}
    blended = {r["doc_id"]
               for r in pos_index.phrase_prefix_topk("hash jo", 1000).collect()}
    assert exact and exact <= blended


def test_boosting_query_vs_oracle(spark, index, sf_smoke):
    """ES boosting query: negative matches are demoted by the factor, not
    excluded; engine == SQL twin; a demoted doc's score is exactly
    factor x its undemoted BM25 score (through the floor formula)."""
    import duckdb

    from smse_backend_spark.operators.search import boosting_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    q, neg = "hash join merge scan", ["window"]
    got = [(r["doc_id"], r["score"])
           for r in index.bm25_topk_boosting(q, neg, 0.5, 10).collect()]
    want = [tuple(r) for r in
            con.execute(boosting_oracle_sql(q, neg, 0.5, 10)).fetchall()]
    assert got == want and len(got) == 10
    # demote-not-exclude: some doc matching 'window' may still appear;
    # every match set doc survives (same count as an unboosted run)
    all_boost = index.bm25_topk_boosting(q, neg, 0.5, 100_000).count()
    all_plain = index.scored_matches(q).count()
    assert all_boost == all_plain
    # factor law on a known demoted doc: find one doc matching both
    import math

    demoted = {r["doc_id"] for r in index.match_doc_ids("window").collect()}
    plain = {r["doc_id"]: r["score"]
             for r in index.scored_matches(q).collect()}
    raw = {r["doc_id"]: r["score"]
           for r in index.bm25_topk_boosting(q, neg, 0.5, 100_000).collect()}
    hit = next(d for d in raw if d in demoted and d in plain)
    # plain is rounded 6dp; compare loosely against factor x plain
    assert abs(raw[hit] - 0.5 * plain[hit]) < 1e-5


def test_near_in_order_follows_query_order(spark, tmp_path):
    """Regression (r3 ADVICE): in_order must enforce the QUERY token
    sequence, not the alphabetically sorted term set. Query 'zebra alpha'
    (reverse-alphabetical on purpose) must match the doc where zebra
    PRECEDES alpha and reject the doc with only the opposite order —
    under the old sorted-terms bug the verdicts were exactly flipped."""
    rows = [
        (1, "en", "zebra then some alpha tail pad"),
        (2, "en", "alpha then some zebra tail pad"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, lang string, content string")
    out = str(tmp_path / "idx_order")
    build_index(spark, corpus, out, segment_size=8, n_buckets=2,
                block_size=8, n_batches=1, with_positions=True)
    ix = InvertedIndex(spark, out)
    got = {r["doc_id"] for r in
           ix.near_topk("zebra alpha", 5, 10, in_order=True).collect()}
    assert got == {1}
    # unordered near still admits both
    both = {r["doc_id"] for r in
            ix.near_topk("zebra alpha", 5, 10).collect()}
    assert both == {1, 2}
    # duplicate query tokens demand two increasing occurrences
    dup = {r["doc_id"] for r in
           ix.near_topk("alpha alpha", 5, 10, in_order=True).collect()}
    assert dup == set()


def test_near_in_order_oracle_follows_query_order(spark, tmp_path):
    """The DuckDB twin applies the same query-order chain."""
    import duckdb

    from smse_backend_spark.operators.search import near_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'en', 'zebra then some alpha tail pad'), "
        "(2, 'en', 'alpha then some zebra tail pad')) t(doc_id, lang, text)"
    )
    got = {r[0] for r in con.execute(
        near_oracle_sql("zebra alpha", 5, 10, in_order=True)).fetchall()}
    assert got == {1}
    both = {r[0] for r in con.execute(
        near_oracle_sql("zebra alpha", 5, 10)).fetchall()}
    assert both == {1, 2}


def test_phrase_suggest_follows_query_order(spark, corpus, index, sf_smoke):
    """Regression (r3 ADVICE): suggestions keep the input token order —
    'ky bat' (reverse-sorted input) must yield candidates for 'ky' in
    position 0, not alphabetize into 'bat'-first phrases; the oracle
    agrees; and the old masking input 'bat ky' stays green."""
    import duckdb

    from smse_backend_spark.operators.search import phrase_suggest_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_smoke}/documents.parquet'"
    )
    got = [tuple(r) for r in index.phrase_suggest(
        corpus, "ky bat", 2, 6, 10).collect()]
    want = [tuple(r) for r in con.execute(
        phrase_suggest_oracle_sql("ky bat", 2, 6, 10)).fetchall()]
    assert got == want and len(got) > 1
    fwd = [tuple(r) for r in index.phrase_suggest(
        corpus, "bat ky", 2, 6, 10).collect()]
    # order genuinely matters: the two directions disagree
    assert [s for s, _ in got] != [s for s, _ in fwd]
    # position-0 words of 'ky bat' suggestions are 'ky'-ish candidates,
    # i.e. the reverse of the position-0 words of 'bat ky' suggestions
    assert {s.split()[0] for s, _ in got} & {s.split()[1] for s, _ in fwd}
    with pytest.raises(ValueError, match="caps the input"):
        index.phrase_suggest(corpus, "a1 b2 c3 d4 e5 f6 g7", 1, 4, 5)


def test_sort_field_build_survives_null_field(spark, tmp_path):
    """Regression (r3 ADVICE): finalize's histogram does int(min)/int(max)
    on the sort_field aggregates; when the docvalue column is entirely
    NULL those are None and the build used to TypeError. It must finalize
    with sort_histogram = None instead (a fully empty corpus is rejected
    earlier by design, so the all-NULL column is the reachable case)."""
    rows = [(1, "en", "alpha beta", None), (2, "en", "beta gamma", None)]
    c = spark.createDataFrame(
        rows, "doc_id long, lang string, content string, stars long"
    )
    out = str(tmp_path / "idx_null_sf")
    meta = build_index(spark, c, out, segment_size=8, n_buckets=2,
                       block_size=8, n_batches=1, docvalues=("stars",),
                       sort_field="stars")
    assert meta["n_docs"] == 2
    assert meta["sort_histogram"] is None
    # and the index still answers queries
    ix = InvertedIndex(spark, out)
    assert ix.bm25_topk("beta", 10).count() == 2


def test_routed_query_matches_filtered_fanout(spark, corpus, tmp_path):
    """Custom routing: the owning shard alone (global metadata-merged
    stats) == the full coordinator fan-out restricted to the routing
    value; placement is exclusive (no other shard holds the tenant)."""
    from pyspark.sql import functions as F

    from smse_backend_spark.index.query import (
        route_shard,
        routed_bm25_topk,
        sharded_bm25_topk,
    )

    capped = corpus.filter(F.col("doc_id") < 300)
    repos = [r["repo"] for r in capped.select("repo").distinct().collect()]
    owner = {rp: route_shard(rp, 3) for rp in repos}
    assert len(set(owner.values())) > 1  # the hash actually spreads
    paths = []
    for sid in range(3):
        mine = [rp for rp, o in owner.items() if o == sid]
        out = str(tmp_path / f"rt{sid}")
        build_index(spark, capped.filter(F.col("repo").isin(mine)), out,
                    segment_size=64, n_buckets=4, block_size=32,
                    n_batches=1, docvalues=("repo",))
        paths.append(out)
    routing = repos[0]
    got = [tuple(r) for r in
           routed_bm25_topk(spark, paths, "hash join merge scan",
                            routing, 10).collect()]
    assert got
    # fan-out reference: all shards, then restrict to the tenant's docs
    tenant = {r["doc_id"] for r in
              capped.filter(F.col("repo") == routing).select("doc_id").collect()}
    fan = [(r["doc_id"], r["score"]) for r in
           sharded_bm25_topk(spark, paths, "hash join merge scan",
                             1_000_000).collect() if r["doc_id"] in tenant]
    assert got == fan[:10]
    # exclusive placement: no other shard's doc-values hold this repo
    for sid, p in enumerate(paths):
        if sid == route_shard(routing, 3):
            continue
        other = InvertedIndex(spark, p)
        assert other.doc_values(["repo"]).filter(
            F.col("repo") == routing).count() == 0


def test_wildcard_vs_regex_and_oracle(index, spark, oracle_con):
    from smse_backend_spark.index.query import wildcard_to_regex
    from smse_backend_spark.operators.search import bm25_regex_oracle_sql

    assert wildcard_to_regex("m?rg*") == "m.rg.*"
    assert wildcard_to_regex("a+b") == r"a\+b"
    ix = index
    got = [tuple(r) for r in ix.bm25_topk_wildcard("m?rg*", 10).collect()]
    want = [tuple(w) for w in oracle_con.execute(
        bm25_regex_oracle_sql("m.rg.*", 10)).fetchall()]
    assert got == want and got
    # '?' is exactly one char: 'mrge*' style zero-char match is excluded
    exp = ix.expand_regex(wildcard_to_regex("m?rg*"))
    assert "merge" in exp and all(t[0] == "m" and t[2:4] == "rg" for t in exp)


def test_match_bool_prefix_vs_oracle(index, spark, oracle_con):
    from smse_backend_spark.operators.search import (
        match_bool_prefix_oracle_sql,
    )

    ix = index
    got = [tuple(r) for r in
           ix.bm25_topk_bool_prefix("hash jo", 10).collect()]
    want = [tuple(w) for w in oracle_con.execute(
        match_bool_prefix_oracle_sql("hash jo", 10)).fetchall()]
    assert got == want and got
    # unlike phrase_prefix there is NO adjacency requirement: the result
    # equals the plain OR over {hash} + expansions("jo")
    exp = ix.expand_prefix("jo", max_expansions=16)
    assert "join" in exp
    manual = [tuple(r) for r in ix._topk_for_terms(
        sorted({"hash"} | set(exp)), 10, None, "auto").collect()]
    assert got == manual


def test_span_first_vs_oracle(pos_index, spark, oracle_con):
    from smse_backend_spark.operators.search import span_first_oracle_sql

    ix = pos_index
    got = [tuple(r) for r in ix.span_first_topk("table", 5, 1000).collect()]
    want = [tuple(w) for w in oracle_con.execute(
        span_first_oracle_sql("table", 5, 1000)).fetchall()]
    assert got == want and got
    # boundary monotonicity: a wider window matches a superset of docs
    wide = {r["doc_id"] for r in ix.span_first_topk("table", 50, 10**6).collect()}
    assert {d for d, _s in got} <= wide and {d for d, _s in got} != wide
    # boundary is strict: end=1 means the very first token only
    first_tok = [tuple(r) for r in ix.span_first_topk("table", 1, 1000).collect()]
    want1 = [tuple(w) for w in oracle_con.execute(
        span_first_oracle_sql("table", 1, 1000)).fetchall()]
    assert first_tok == want1


def test_synonym_query_vs_oracle(spark, index, oracle_con):
    """Lucene SynonymQuery blending == DuckDB twin: tf sums within a
    group, df is the group max, absent members don't perturb idf, and a
    singleton group degenerates to plain BM25 on that term."""
    from smse_backend_spark.operators.search import (
        bm25_topk_scan,
        synonym_query_oracle_sql,
    )

    for groups in [
        [["hash", "digest"], ["join", "merge"]],
        [["scan", "filter"]],
        [["hash"]],
        [["zzzqqabsent", "hash"], ["join"]],
    ]:
        got = [tuple(r) for r in
               index.synonym_query_topk(groups, 1000).collect()]
        want = [tuple(w) for w in oracle_con.execute(
            synonym_query_oracle_sql(groups, 1000)).fetchall()]
        assert got == want and got, (groups, got[:3], want[:3])
    # singleton groups == the plain BM25 scorer on the same terms
    a = [tuple(r) for r in index.synonym_query_topk([["hash"], ["join"]], 50).collect()]
    b = [tuple(r) for r in index.bm25_topk("hash join", 50).collect()]
    assert a == b
    # blending uses MAX df: adding an absent synonym never changes scores
    c = [tuple(r) for r in
         index.synonym_query_topk([["hash", "zzzqqabsent"], ["join"]], 50).collect()]
    assert c == a
    with pytest.raises(ValueError, match="one term"):
        index.synonym_query_topk([["two words"]])


def test_intervals_derivation(pos_index, oracle_con):
    """intervals(max_gaps, ordered) == span-near at window = max_gaps +
    n_terms - 1 (the Lucene width-minus-terms identity), and at
    max_gaps=0 ordered its match set is exactly the phrase match set."""
    from smse_backend_spark.operators.search import near_oracle_sql

    ix = pos_index
    got = [tuple(r) for r in
           ix.intervals_topk("table scan", 2, True, 1000).collect()]
    want = [tuple(w) for w in oracle_con.execute(
        near_oracle_sql("table scan", 3, 1000, in_order=True)).fetchall()]
    assert got == want and got
    # facade == the underlying span-near call
    near = [tuple(r) for r in
            ix.near_topk("table scan", 3, 1000, in_order=True).collect()]
    assert got == near
    # max_gaps=0 ordered == adjacency: same docs as the exact phrase
    iv0 = {r["doc_id"] for r in
           ix.intervals_topk("table scan", 0, True, 10**6).collect()}
    ph = {r["doc_id"] for r in ix.phrase_topk("table scan", 10**6).collect()}
    assert iv0 == ph and iv0
    # unordered gaps window: derivation uses DISTINCT term count
    u = [tuple(r) for r in
         ix.intervals_topk("table scan", 1, False, 1000).collect()]
    un = [tuple(r) for r in ix.near_topk("table scan", 2, 1000).collect()]
    assert u == un


def test_classic_tfidf_vs_oracle(index, oracle_con):
    """ClassicSimilarity == DuckDB twin; ranking genuinely differs from
    BM25 on a mixed-df query (sqrt saturation + squared idf reorder)."""
    from smse_backend_spark.operators.search import classic_tfidf_oracle_sql

    for q, lang in [("hash join merge scan", None), ("vector", None),
                    ("batch stream spark window", "en"),
                    ("zzzqqabsent", None)]:
        got = [tuple(r) for r in index.classic_tfidf_topk(q, 50, lang).collect()]
        want = [tuple(w) for w in oracle_con.execute(
            classic_tfidf_oracle_sql(q, 50, lang)).fetchall()]
        assert got == want, (q, lang, got[:3], want[:3])
    q = "hash join merge scan"
    tfidf = [r["doc_id"] for r in index.classic_tfidf_topk(q, 50).collect()]
    bm25 = [r["doc_id"] for r in index.bm25_topk(q, 50).collect()]
    assert tfidf and tfidf != bm25


def test_similarity_family_vs_oracle(index, oracle_con):
    """The four round-4 similarity models (JM LM, DFR InL2, IB LL, DFI
    chi2) and BooleanSimilarity each == their DuckDB scan twin, on mixed
    queries including lang-restricted and absent-term inputs."""
    from smse_backend_spark.operators import similarities as S

    cases = [("hash join merge scan", None), ("vector", None),
             ("batch stream spark window", "en"), ("zzzqqabsent", None)]
    pairs = [
        (lambda q, k, lg: index.lm_jelinek_mercer_topk(q, k, lg),
         S.lm_jelinek_mercer_oracle_sql),
        (lambda q, k, lg: index.dfr_inl2_topk(q, k, lg),
         S.dfr_inl2_oracle_sql),
        (lambda q, k, lg: index.ib_ll_topk(q, k, lg), S.ib_ll_oracle_sql),
        (lambda q, k, lg: index.ib_spl_topk(q, k, lg), S.ib_spl_oracle_sql),
        (lambda q, k, lg: index.dfi_chi2_topk(q, k, lg),
         S.dfi_chi2_oracle_sql),
        (lambda q, k, lg: index.dfi_saturated_topk(q, k, lg),
         S.dfi_saturated_oracle_sql),
        (lambda q, k, lg: index.dfi_standardized_topk(q, k, lg),
         S.dfi_standardized_oracle_sql),
        (lambda q, k, lg: index.boolean_sim_topk(q, k, lg),
         S.boolean_sim_oracle_sql),
    ]
    for fn, osql in pairs:
        for q, lang in cases:
            got = [tuple(r) for r in fn(q, 50, lang).collect()]
            want = [tuple(w) for w in
                    oracle_con.execute(osql(q, 50, lang)).fetchall()]
            assert got == want, (osql.__name__, q, lang, got[:3], want[:3])
    # the models genuinely re-rank: on the mixed-df flagship query the
    # four scored orders are not all identical to BM25's
    q = "hash join merge scan"
    bm25 = [r["doc_id"] for r in index.bm25_topk(q, 50).collect()]
    orders = {
        "jm": [r["doc_id"] for r in
               index.lm_jelinek_mercer_topk(q, 50).collect()],
        "inl2": [r["doc_id"] for r in index.dfr_inl2_topk(q, 50).collect()],
        "ll": [r["doc_id"] for r in index.ib_ll_topk(q, 50).collect()],
        "dfi": [r["doc_id"] for r in index.dfi_chi2_topk(q, 50).collect()],
    }
    assert any(v != bm25 for v in orders.values())
    # BooleanSimilarity is coord counting: scores are small integers
    bs = index.boolean_sim_topk(q, 10).collect()
    assert bs and all(float(r["score"]).is_integer() for r in bs)
    assert max(r["score"] for r in bs) <= 4.0


def test_ib_spl_rejects_ubiquitous_term(spark, tmp_path):
    """A term present in EVERY doc makes λ_w = 1 and the SPL distribution
    undefined (Lucene returns Infinity); this engine rejects it loudly."""
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex

    rows = [(i, "r", f"p{i}", "c", "en", f"common word{i}") for i in range(8)]
    corpus = spark.createDataFrame(
        rows, "doc_id long, repo string, path string, commit string, "
              "lang string, content string",
    )
    out = str(tmp_path / "splidx")
    build_index(spark, corpus, out, segment_size=4, n_buckets=2,
                block_size=4, n_batches=1)
    ix = InvertedIndex(spark, out)
    with pytest.raises(ValueError, match="undefined for terms"):
        ix.ib_spl_topk("common", 5)
    # a non-ubiquitous term works
    assert ix.ib_spl_topk("word3", 5).count() == 1


def test_span_contain_vs_oracle(pos_index, oracle_con):
    """SpanContaining/SpanWithin == DuckDB twin; containing counts pairs,
    within counts enclosed occurrences, so the two genuinely differ."""
    from smse_backend_spark.operators.search import span_contain_oracle_sql

    ix = pos_index
    for big, little, w, mode in [
        ("table scan", "hash", 6, "containing"),
        ("table scan", "hash", 6, "within"),
        ("hash join", "table", 10, "containing"),
        ("hash join", "table", 10, "within"),
        ("table scan", "zzzqqabsent", 6, "containing"),
    ]:
        got = [tuple(r) for r in
               ix.span_contain_topk(big, little, w, 1000, mode=mode)
               .collect()]
        want = [tuple(x) for x in oracle_con.execute(
            span_contain_oracle_sql(big, little, w, 1000, mode=mode)
        ).fetchall()]
        assert got == want, (big, little, w, mode, got[:3], want[:3])
    # within docs == containing docs (both require pair + enclosure),
    # but the tf (hence scores) differ in general
    cd = {r["doc_id"] for r in
          ix.span_contain_topk("table scan", "hash", 6, 10**6,
                               mode="containing").collect()}
    wd = {r["doc_id"] for r in
          ix.span_contain_topk("table scan", "hash", 6, 10**6,
                               mode="within").collect()}
    assert cd == wd and cd
    with pytest.raises(ValueError, match="distinct"):
        ix.span_contain_topk("table scan", "table", 3)
    with pytest.raises(ValueError, match="two big"):
        ix.span_contain_topk("table", "hash", 3)
    with pytest.raises(ValueError, match="mode"):
        ix.span_contain_topk("table scan", "hash", 3, mode="overlap")


def test_span_contain_kernel_vs_bruteforce():
    """Property: the pair-lattice + searchsorted containment kernel ==
    brute force over random position sets, both modes."""
    import random

    rng = random.Random(11)
    for _ in range(200):
        A = sorted(rng.sample(range(40), rng.randint(1, 8)))
        B = sorted(rng.sample(range(40), rng.randint(1, 8)))
        C = sorted(rng.sample(range(40), rng.randint(1, 8)))
        w = rng.randint(0, 12)
        pairs = [(min(a, b), max(a, b)) for a in A for b in B
                 if abs(a - b) <= w]
        want_cont = sum(1 for lo, hi in pairs
                        if any(lo <= c <= hi for c in C))
        want_with = sum(1 for c in C
                        if any(lo <= c <= hi for lo, hi in pairs))
        Aa, Bb = np.array(A, dtype=np.int64), np.array(B, dtype=np.int64)
        Cc = np.array(C, dtype=np.int64)
        lo = np.minimum.outer(Aa, Bb).ravel()
        hi = np.maximum.outer(Aa, Bb).ravel()
        ok = (hi - lo) <= w
        lo, hi = lo[ok], hi[ok]
        got_cont = int(((np.searchsorted(Cc, hi, side="right")
                         - np.searchsorted(Cc, lo, side="left")) > 0).sum())
        if lo.size:
            got_with = int(((lo[None, :] <= Cc[:, None])
                            & (Cc[:, None] <= hi[None, :])).any(axis=1).sum())
        else:
            got_with = 0
        assert got_cont == want_cont and got_with == want_with, (A, B, C, w)


def test_span_or_vs_oracle(index, oracle_con):
    """SpanOrQuery == DuckDB twin; df is the UNION df, so the score
    differs from both bool-OR BM25 and SynonymQuery on mixed terms."""
    from smse_backend_spark.operators.search import span_or_oracle_sql

    ix = index
    for q, lang in [("merge sort", None), ("hash join merge", None),
                    ("vector", "en"), ("zzzqqabsent", None)]:
        got = [tuple(r) for r in ix.span_or_topk(q, 1000, lang).collect()]
        want = [tuple(w) for w in oracle_con.execute(
            span_or_oracle_sql(q, 1000, lang)).fetchall()]
        assert got == want, (q, lang, got[:3], want[:3])
    # differs from plain BM25 OR (which sums per-term idf contributions)
    so = [tuple(r) for r in ix.span_or_topk("merge sort", 50).collect()]
    bm = [tuple(r) for r in ix.bm25_topk("merge sort", 50).collect()]
    assert so and so != bm


def test_common_terms_vs_oracle(index, oracle_con):
    """CommonTermsQuery == DuckDB twin; the rare-required semantics
    genuinely prune docs that match only common terms."""
    from smse_backend_spark.operators.search import common_terms_oracle_sql

    ix = index
    for q, cutoff in [("the hash join", 0.5), ("the a", 0.5),
                      ("hash join", 0.01), ("zzzqqabsent", 0.3)]:
        got = [tuple(r) for r in
               ix.common_terms_topk(q, cutoff, 1000).collect()]
        want = [tuple(w) for w in oracle_con.execute(
            common_terms_oracle_sql(q, cutoff, 1000)).fetchall()]
        assert got == want, (q, cutoff, got[:3], want[:3])
    # all-common query degrades to plain OR: same docs as bm25_topk
    allc = {r["doc_id"] for r in
            ix.common_terms_topk("the a", 0.99, 10**6).collect()}
    bm = {r["doc_id"] for r in ix.bm25_topk("the a", 10**6).collect()}
    assert allc == bm and allc
    # a tiny cutoff makes every term rare -> same as plain OR again
    rare_only = {r["doc_id"] for r in
                 ix.common_terms_topk("hash join", 1e-9, 10**6).collect()}
    assert rare_only == {r["doc_id"] for r in
                         ix.bm25_topk("hash join", 10**6).collect()}


def test_suggest_popular_mode(index, oracle_con):
    """suggest_mode=popular == DuckDB twin; every suggestion's df beats
    the input term's df, and the input never suggests itself."""
    from smse_backend_spark.operators.search import suggest_oracle_sql

    ix = index
    got = [tuple(r) for r in
           ix.suggest("fast", 2, 10, mode="popular").collect()]
    want = [tuple(w) for w in oracle_con.execute(
        suggest_oracle_sql("fast", 2, 10, mode="popular")).fetchall()]
    assert got == want
    df_in = ix.term_df(["fast"]).get("fast", 0)
    assert df_in > 0
    assert all(df > df_in for _t, df, _d in got)
    assert all(t != "fast" for t, _df, _d in got)
    # always-mode is a superset at the same edit distance
    always = {t for t, _df, _d in
              ix.suggest("fast", 2, 10**6).collect()}
    assert {t for t, _df, _d in got} <= always


def test_span_multi_first_vs_oracle(pos_index, oracle_con):
    """SpanMultiTermQueryWrapper(prefix) + SpanFirstQuery == DuckDB
    twin; the expansion genuinely unions multiple terms (score set is a
    superset of any single member's span_first match set)."""
    from smse_backend_spark.operators.search import (
        span_multi_first_oracle_sql,
    )

    ix = pos_index
    for pfx, end in [("s", 5), ("ta", 3), ("zzzqq", 5)]:
        got = [tuple(r) for r in
               ix.span_multi_first_topk(pfx, end, 1000).collect()]
        want = [tuple(w) for w in oracle_con.execute(
            span_multi_first_oracle_sql(pfx, end, 1000)).fetchall()]
        assert got == want, (pfx, end, got[:3], want[:3])
    multi = {r["doc_id"] for r in
             ix.span_multi_first_topk("s", 5, 10**6).collect()}
    # any single expanded member's span_first docs are contained
    exp = ix.expand_prefix("s", None, 64)
    assert len(exp) > 1
    single = {r["doc_id"] for r in
              ix.span_first_topk(exp[0], 5, 10**6).collect()}
    assert single <= multi and len(multi) > len(single)


def test_mlt_unlike_vs_oracle(corpus, index, oracle_con):
    """MLT with ES `unlike`: the negative exemplar's terms vanish from
    the selection; engine == DuckDB twin; result genuinely re-ranks."""
    from smse_backend_spark.functions.tokenizer import tokenize_py
    from smse_backend_spark.operators.search import more_like_this_oracle_sql

    got = [tuple(r) for r in
           index.more_like_this(corpus, 42, 50, 8,
                                unlike_doc_id=7).collect()]
    want = [tuple(w) for w in oracle_con.execute(
        more_like_this_oracle_sql(42, 50, max_terms=8, unlike_doc_id=7)
    ).fetchall()]
    assert got == want and got
    plain = [tuple(r) for r in
             index.more_like_this(corpus, 42, 50, 8).collect()]
    assert got != plain
    # an unlike doc sharing no terms with the source changes nothing;
    # unlike == source empties the selection entirely
    texts = {r["doc_id"]: r["content"] for r in
             corpus.filter("doc_id in (7, 42)").collect()}
    assert set(tokenize_py(texts[42])) & set(tokenize_py(texts[7]))
    self_neg = index.more_like_this(corpus, 42, 50, 8,
                                    unlike_doc_id=42).collect()
    assert self_neg == []


def test_stemmed_positional_index_phrase(spark, sf_smoke):
    """analyzer="stem" now composes with with_positions: phrase queries
    run in stemmed term space with unmoved positions, and match the
    stemmed DuckDB phrase oracle exactly."""
    import tempfile

    import duckdb

    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex
    from smse_backend_spark.operators.search import bm25_phrase_oracle_sql

    corpus = load_corpus(spark, sf_smoke)
    out = tempfile.mkdtemp(prefix="smse_idx_stempos_")
    build_index(spark, corpus, out, segment_size=256, n_buckets=8,
                block_size=64, n_batches=2, with_positions=True,
                analyzer="stem")
    idx = InvertedIndex(spark, out)
    assert idx.analyzer == "stem"
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"'{sf_smoke}/documents.parquet'"
    )
    for phrase in ["tables scans", "table scan", "hash join"]:
        got = [(r["doc_id"], r["score"])
               for r in idx.phrase_topk(phrase, 10).collect()]
        want = con.execute(
            bm25_phrase_oracle_sql(phrase, 10, stem=True)
        ).fetchall()
        assert got == [(d, s) for d, s in want], phrase
    # plural and singular phrase forms fold to the SAME stemmed phrase
    a = [(r["doc_id"], r["score"])
         for r in idx.phrase_topk("tables scans", 10).collect()]
    b = [(r["doc_id"], r["score"])
         for r in idx.phrase_topk("table scan", 10).collect()]
    assert a == b and a


def test_stemmed_positions_kernel_merges_collisions():
    """When two surface forms stem to one term in a doc, the posting's
    position list is the merged ascending offsets of both forms."""
    import pandas as pd

    from smse_backend_spark.functions.tokenizer import (
        stemmed_term_positions_map_in_pandas,
    )

    pdf = pd.DataFrame(
        {"doc_id": [1], "content": ["table scans table tables"],
         "lang": ["en"]}
    )
    (out,) = stemmed_term_positions_map_in_pandas(iter([pdf]))
    row = out[out["term"] == "table"].iloc[0]
    assert row["tf"] == 3 and list(row["positions"]) == [0, 2, 3]
    scan = out[out["term"] == "scan"].iloc[0]
    assert scan["tf"] == 1 and list(scan["positions"]) == [1]
    assert set(out["doc_len"]) == {4}


def test_synonym_positional_still_rejected(spark):
    import pytest as _pytest

    from smse_backend_spark.index.build import build_index

    with _pytest.raises(NotImplementedError, match="synonym positional"):
        build_index(spark, None, "/tmp/x", with_positions=True,
                    analyzer="synonym", synonyms={"a": ["b"]})
