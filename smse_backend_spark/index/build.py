"""SPIMI-style segment-partitioned inverted-index build.

Layout (all partitioned Parquet; an Iceberg-like manifest/lineage layer in
``lineage.py`` stands in for Iceberg snapshots, whose runtime jar is not in
this image):

    <index>/postings/batch=<B>/lang=<L>/term_bucket=<T>/part-*.parquet
    <index>/docstats/batch=<B>/part-*.parquet      (doc_id, lang, doc_len[, docvalues...])
    <index>/dictionary/part-*.parquet              (lang, term, df, cf)
    <index>/lineage/batch_<B>.json                 (per-partition lineage)
    <index>/meta.json                              (corpus stats + config)

Scale design (the reason this is NOT a term-partitioned index):

- **segment** = ``doc_id // segment_size`` — a doc-id range. Posting lists
  are built per ``(lang, term_bucket, segment)`` group, so a group is
  bounded by the segment size *no matter how hot a term is*: the hottest
  term ('def', 'import', 'the') is spread across all segments. Skew is
  handled structurally, not by rescue salting — the segment IS an
  order-preserving salt, so no second merge shuffle is ever needed
  (global per-term doc order == segment order, since segments are doc-id
  ranges).
- The whole build is ONE wide shuffle: tokenize+tf happens inside the
  document row (vectorized ``mapInPandas``, so the raw token stream is
  never shuffled — only distinct ``(doc, term)`` pairs), then a single
  ``groupBy(lang, term_bucket, segment).applyInPandas`` builds compressed
  block-max blocks. Docstats come from an independent pure-Column scan
  (JVM codegen, lockstep-equal tokenizer) — two stateless scans beat one
  persisted scan, whose MemoryStore writes serialize under 32 threads.
- ``lang`` and ``term_bucket`` are partition *directories*: a query prunes
  to ``|query terms|`` buckets (and one lang, if filtered) without touching
  other files; ``batch`` is the resume/checkpoint unit (reference analog:
  the Celery ``tasks`` status table, smse_backend/models/task.py:6-34 /
  routes/task.py:37-50, re-expressed as data-plane lineage).
- Block upper bounds are stored as ``(block_max_tf, block_min_dl)`` —
  global-stat-free, so incremental batches never invalidate old blocks
  (BM25's tf-saturation term is monotone: max tf + min dl bounds every
  member's contribution for any idf/avgdl plugged in at query time).
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smse_backend_spark.index import lineage as lin
from smse_backend_spark.index.codec import delta_encode, encode_blocks

def term_bucket_col(term, n_buckets: int):
    """Bucket id from sha2(term) — replicable driver-side (term_bucket_py),
    so the query planner computes bucket IN-lists without a Spark job."""
    return F.pmod(
        F.conv(F.substring(F.sha2(term, 256), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.sha256(term.encode()).hexdigest()[:8], 16) % n_buckets


BLOCKS_SCHEMA = (
    "lang string, term_bucket int, segment long, term string, block_no int, "
    "n int, first_doc long, last_doc long, block_max_tf int, block_min_dl int, "
    "block_sum_tf long, gaps binary, tfs binary, dls binary"
)
# positional variant: poss = per-block concatenation of each posting's
# delta-encoded token positions (first raw, then gaps; posting boundaries
# recovered from the decoded tf sequence)
BLOCKS_SCHEMA_POS = BLOCKS_SCHEMA + ", poss binary"

_EMPTY_BLOCKS = {
    "lang": pd.Series(dtype="object"), "term_bucket": pd.Series(dtype="int32"),
    "segment": pd.Series(dtype="int64"), "term": pd.Series(dtype="object"),
    "block_no": pd.Series(dtype="int32"), "n": pd.Series(dtype="int32"),
    "first_doc": pd.Series(dtype="int64"), "last_doc": pd.Series(dtype="int64"),
    "block_max_tf": pd.Series(dtype="int32"), "block_min_dl": pd.Series(dtype="int32"),
    "block_sum_tf": pd.Series(dtype="int64"),
    "gaps": pd.Series(dtype="object"), "tfs": pd.Series(dtype="object"),
    "dls": pd.Series(dtype="object"),
}


def _block_layout(codes: np.ndarray, seg: np.ndarray, doc: np.ndarray,
                  block_size: int):
    """Numpy core of the block kernel: order (term-code, segment, doc) and
    cut blocks.

    Returns ``(order, boundary arrays...)`` where ``order`` is the
    permutation to apply to every parallel input array. Blocks are keyed by
    (term, segment), so the OUTPUT is invariant to how many segments a
    kernel invocation covers — that's what lets the Spark-side grouping
    run at coarse (lang, term_bucket, segment-range) granularity (few big
    groups → per-group plumbing overhead amortized) without changing a
    byte of the index. Term-code order ≠ lexicographic term order; the
    codec only needs doc-ascending postings WITHIN a (term, segment), and
    the writer re-sorts block rows by (term, segment, block_no) anyway, so
    an integer lexsort replaces the string sort outright.
    """
    order = np.lexsort((doc, seg, codes))
    codes = codes[order]
    seg = seg[order]
    doc = doc[order]
    group_change = np.empty(codes.size, dtype=bool)
    group_change[0] = True
    group_change[1:] = (codes[1:] != codes[:-1]) | (seg[1:] != seg[:-1])
    tstarts = np.flatnonzero(group_change)
    occ = np.arange(codes.size, dtype=np.int64)
    occ -= np.repeat(occ[tstarts], np.diff(np.append(tstarts, codes.size)))
    block_no = occ // block_size
    boundary = group_change.copy()
    boundary[1:] |= block_no[1:] != block_no[:-1]
    bstarts = np.flatnonzero(boundary)
    counts = np.diff(np.append(bstarts, codes.size))
    bends = bstarts + counts - 1
    return order, codes, seg, doc, block_no, bstarts, counts, bends


def _positions_blob(pos_arrays, tf: np.ndarray, bstarts: np.ndarray):
    """Delta+varint position blobs per block from per-posting offset lists
    (already in final posting order)."""
    flat = (
        np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_arrays])
        if len(pos_arrays)
        else np.empty(0, dtype=np.int64)
    )
    # delta within each posting, first position kept raw
    post_starts = np.concatenate(([0], np.cumsum(tf[:-1]))).astype(np.int64)
    d = flat.copy()
    if d.size:
        d[1:] -= flat[:-1]
        d[post_starts] = flat[post_starts]
    # positions per block = that block's sum of tfs
    return encode_blocks(d.astype(np.uint64), np.add.reduceat(tf, bstarts))


def make_block_builder(block_size: int, with_positions: bool = False):
    """applyInPandas kernel for one (lang, term_bucket, segment-range)
    group — any number of segments per invocation (see _block_layout)."""

    def build_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            out = dict(_EMPTY_BLOCKS)
            if with_positions:
                out["poss"] = pd.Series(dtype="object")
            return pd.DataFrame(out)
        raw_codes, uniques = pd.factorize(pdf["term"], sort=False)
        order, codes, seg, doc, block_no, bstarts, counts, bends = _block_layout(
            raw_codes,
            pdf["segment"].to_numpy(np.int64),
            pdf["doc_id"].to_numpy(np.int64),
            block_size,
        )
        tf = pdf["tf"].to_numpy(np.int64)[order]
        dl = pdf["doc_len"].to_numpy(np.int64)[order]
        gaps = delta_encode(doc, bstarts)
        terms = uniques.to_numpy()[codes[bstarts]]
        out = pd.DataFrame(
            {
                "lang": np.broadcast_to(pdf["lang"].iloc[0], bstarts.shape),
                "term_bucket": np.broadcast_to(
                    np.int32(pdf["term_bucket"].iloc[0]), bstarts.shape
                ),
                "segment": seg[bstarts],
                "term": terms,
                "block_no": block_no[bstarts].astype(np.int32),
                "n": counts.astype(np.int32),
                "first_doc": doc[bstarts],
                "last_doc": doc[bends],
                "block_max_tf": np.maximum.reduceat(tf, bstarts).astype(np.int32),
                "block_min_dl": np.minimum.reduceat(dl, bstarts).astype(np.int32),
                "block_sum_tf": np.add.reduceat(tf, bstarts).astype(np.int64),
                "gaps": encode_blocks(gaps.astype(np.uint64), counts),
                "tfs": encode_blocks(tf.astype(np.uint64), counts),
                "dls": encode_blocks(dl.astype(np.uint64), counts),
            }
        )
        if with_positions:
            out["poss"] = _positions_blob(
                pdf["positions"].to_numpy()[order], tf, bstarts
            )
        return out

    return build_blocks


def block_builder_seg_range(n_segments: int, n_buckets: int,
                            parallelism: int) -> int:
    """Segments per kernel group. Per-group plumbing (Arrow framing, worker
    dispatch) was measured to dominate when every (lang, bucket, segment)
    is its own group (~20k groups of ~2k pairs at 1.5M docs: identity
    applyInPandas cost ≈ 2× the whole JVM agg). Coarsening to ~8 groups
    per core keeps every core busy through the tail while amortizing the
    per-group cost; the index bytes are invariant to this knob
    (_block_layout keys blocks by (term, segment) internally)."""
    return max(1, (n_segments * n_buckets) // max(1, 8 * parallelism))


def apply_block_builder(tc: DataFrame, block_size: int, with_positions: bool,
                        out_schema: str, seg_range: int = 1) -> DataFrame:
    """Group (doc, term) pairs at (lang, term_bucket, segment-range)
    granularity and run the block-encode kernel through ``applyInPandas``
    (an ``applyInArrow`` twin measured ~2x slower end-to-end in this Spark
    build: its serialization path costs more than the pandas bridge
    saves)."""
    tc = tc.withColumn(
        "seg_range", (F.col("segment") / max(1, seg_range)).cast("long")
    )
    return tc.groupBy("lang", "term_bucket", "seg_range").applyInPandas(
        make_block_builder(block_size, with_positions), out_schema
    )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    segment_size: int = 2048,
    n_buckets: int = 8,
    block_size: int = 128,
    n_batches: int = 4,
    stop_after_batches: int | None = None,
    input_partitions: int | None = None,
    known_max_doc: int | None = None,
    snapshot_id: str | None = None,
    with_positions: bool = False,
    analyzer: str = "standard",
    synonyms: dict[str, str] | None = None,
    docvalues: tuple[str, ...] | list[str] = (),
    sort_field: str | None = None,
    shingles: bool = False,
) -> dict:
    """Build (or resume) the index from a corpus (doc_id, lang, content).

    ``docvalues``: extra per-document columns stored columnar alongside
    docstats (Lucene doc-values) — what lets collapse / sort-by-field /
    function-score / faceting run from the index alone, never touching
    the corpus at query time. Each name is taken from the corpus as-is;
    the special name ``"n_chars"`` is computed as ``length(content)``.

    ``with_positions=True`` additionally stores each posting's token
    positions (delta+varint, a ``poss`` blob per block) — required for
    :meth:`InvertedIndex.phrase_topk`, skipped by default because
    positions roughly double posting bytes and add a list-agg to the
    tokenize kernel.

    ``analyzer``: ``"standard"`` (default), ``"stem"`` — the Harman
    S-stemmer applied at INDEX time (Lucene per-field-analyzer style):
    postings are stored in stemmed term space, doc_len stays the raw
    token count, and the recorded config makes ``InvertedIndex`` stem
    query terms to match — or ``"synonym"`` with a ``synonyms`` map
    (Lucene SynonymGraphFilter, contract flavor): tokens fold to their
    group's canonical term, so a group scores as ONE term with pooled
    tf/df, and the recorded map folds query terms identically.
    ``"stem"`` composes with ``with_positions`` (tokens map 1:1 and
    positions never move, so phrase/span queries run over stemmed
    indexes); ``"synonym"`` does not (a graph fold collapses multi-token
    groups — adjacency over folded tokens is ambiguous).

    Batches partition the doc-id space; each batch commits postings +
    docstats + a lineage row atomically-enough (data first, lineage JSON
    last). A rerun skips committed batches — the resumability contract.
    Returns the meta dict written by :func:`finalize`.
    """
    from smse_backend_spark.session import ensure_pyfiles

    ensure_pyfiles(spark)
    if analyzer not in ("standard", "stem", "synonym"):
        raise ValueError(f"unknown analyzer {analyzer!r}")
    if analyzer == "synonym" and with_positions:
        # a synonym GRAPH fold collapses multi-token groups to one
        # canonical term, so adjacency over folded tokens is ambiguous —
        # stemming is 1:1 per token and composes with positions fine
        raise NotImplementedError("synonym positional index not supported")
    if analyzer == "synonym" and not synonyms:
        raise ValueError("analyzer='synonym' requires a non-empty synonyms map")
    if sort_field is not None and sort_field != "doc_len" \
            and sort_field not in docvalues:
        raise ValueError(
            f"sort_field {sort_field!r} must be 'doc_len' or a stored "
            f"docvalue {sorted(docvalues)}"
        )
    if analyzer != "synonym":
        synonyms = None
    if known_max_doc is not None:
        min_doc, max_doc = 0, known_max_doc
    else:
        min_doc, max_doc = corpus.agg(F.min("doc_id"), F.max("doc_id")).first()
    if max_doc is None:
        raise ValueError("empty corpus")
    n_segments = max_doc // segment_size + 1
    # batching starts at the corpus's first occupied segment: a doc-id-
    # filtered corpus (e.g. one shard of a doc-id-partitioned build) would
    # otherwise commit empty batches below its range
    seg_start = min_doc // segment_size
    segs_per_batch = max(1, math.ceil((n_segments - seg_start) / n_batches))

    # corpus snapshot identity (the Iceberg-snapshot-id stand-in): a batch
    # committed under one snapshot must never be silently reused for
    # another corpus — resume is only valid against the same input. On an
    # Iceberg deployment pass the table's snapshot id explicitly; the
    # fallback fingerprints the input file listing (None for derived/cached
    # inputs, which then opt out of the cross-snapshot guard).
    snapshot = snapshot_id or corpus_snapshot(corpus)
    # lineage-less inputs (corpus_snapshot None: derived/cached plans) opt
    # OUT of the cross-snapshot guard, as documented above — only two
    # known, differing snapshots are a refusal
    for row in lin.read_lineage(out_dir):
        prev = row.get("corpus_snapshot")
        if snapshot is not None and prev is not None and prev != snapshot:
            raise ValueError(
                f"index at {out_dir} was built from corpus snapshot {prev}; "
                f"current corpus is {snapshot} — refusing to resume across "
                "snapshots (use a fresh out_dir or rebuild)"
            )

    done = lin.committed_batches(out_dir)
    built = 0
    for b in range(n_batches):
        seg_lo = seg_start + b * segs_per_batch
        seg_hi = min(seg_start + (b + 1) * segs_per_batch, n_segments)
        if seg_lo >= n_segments:
            break
        if b in done:
            continue
        if stop_after_batches is not None and built >= stop_after_batches:
            return {"stopped_after": built}
        _build_batch(
            spark, corpus, out_dir, b, seg_lo, seg_hi, segment_size,
            n_buckets, block_size, input_partitions, snapshot,
            with_positions, analyzer, tuple(docvalues), synonyms, shingles,
        )
        built += 1
    return finalize(
        spark, out_dir,
        {"segment_size": segment_size, "n_buckets": n_buckets,
         "block_size": block_size, "n_batches": n_batches,
         "corpus_snapshot": snapshot, "with_positions": with_positions,
         "analyzer": analyzer, "synonyms": synonyms,
         "docvalues": list(docvalues), "sort_field": sort_field,
         "shingles": bool(shingles)},
    )


def corpus_snapshot(corpus: DataFrame) -> str | None:
    """Deterministic fingerprint of the corpus input files (sorted path
    list). Plays the role of the Iceberg snapshot id for the resume
    contract; None for purely in-memory/derived inputs (no file lineage)."""
    import hashlib

    files = sorted(corpus.inputFiles())
    if not files:
        return None
    return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]


def _build_batch(
    spark, corpus, out_dir, batch_id, seg_lo, seg_hi, segment_size,
    n_buckets, block_size, input_partitions, snapshot=None,
    with_positions=False, analyzer="standard", docvalues=(), synonyms=None,
    shingles=False,
) -> None:
    lo_doc, hi_doc = seg_lo * segment_size, seg_hi * segment_size
    part = corpus.filter((F.col("doc_id") >= lo_doc) & (F.col("doc_id") < hi_doc))
    # A real corpus arrives as thousands of files and scans wide; the local
    # stand-in is a handful of parquet files whose scan granularity leaves
    # one fat wave of tasks. Spread explicitly: fine-grained tasks are what
    # let N executor slots load-balance (measured: 22 fat tokenize tasks
    # anti-scale 8->32 cores; 4x-parallelism tasks restore the speedup).
    nparts = input_partitions or min(
        512, 4 * spark.sparkContext.defaultParallelism
    )
    part = part.repartition(nparts, "doc_id")

    from pyspark.sql import Observation

    # docstats pass: pure Column tokenizer (whole-stage codegen, zero
    # Python). Kept separate from the posting pass instead of persisting a
    # shared tokenize output: a MEMORY_AND_DISK persist of the term stream
    # was measured to ANTI-scale (MemoryStore/unroll lock contention at 32
    # writer threads: 33s @ 8 cores -> 47-66s @ 32), while two independent
    # stateless scans both scale freely. The JVM and pandas tokenizers are
    # lockstep-tested equal (functions/tokenizer.py).
    from smse_backend_spark.functions.tokenizer import doc_len_col

    # doc-values ride the docstats pass (one extra pure-Column projection
    # per column — no extra scan, no shuffle); "n_chars" is derived
    dv_cols = [
        (F.length("content").cast("long").alias("n_chars") if c == "n_chars"
         else F.col(c))
        for c in docvalues
    ]
    obs_docs = Observation(f"docstats_{batch_id}")
    docstats = (
        part.select(
            "doc_id", "lang", doc_len_col(F.col("content")).alias("doc_len"),
            *dv_cols,
        )
        .observe(obs_docs, F.count(F.lit(1)).alias("n_docs"), F.sum("doc_len").alias("sum_dl"))
    )
    docstats.write.mode("overwrite").parquet(f"{out_dir}/docstats/batch={batch_id}")

    if shingles:
        # index-time bigram (shingle) model — the ES shingle-subfield
        # analog that lets the phrase suggester run without a corpus
        # scan at query time. One extra agg over the batch slice: pairs
        # are built in-row (JVM transform), so only (lang, a, b) count
        # rows shuffle — vocabulary-bounded, never corpus-bounded.
        from smse_backend_spark.functions.tokenizer import tokenize_col

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
        (
            part.select("lang", F.explode(adj).alias("p"))
            .select("lang", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .groupBy("lang", "a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/shingles/batch={batch_id}")
        )

    # posting pass: Arrow-vectorized tokenize+tf (the token stream never
    # shuffles — only distinct (doc, term) pairs leave the Python worker;
    # positional builds additionally carry each posting's offset list)
    if with_positions:
        from smse_backend_spark.functions.tokenizer import (
            TERM_POSITIONS_LANG_SCHEMA,
            stemmed_term_positions_map_in_pandas,
            term_positions_map_in_pandas,
        )

        # the stemmed variant stems INSIDE the same Arrow pass that emits
        # positions (tokens map 1:1, positions never move) — so phrase/
        # span/intervals queries run over analyzer="stem" indexes
        kernel = (
            stemmed_term_positions_map_in_pandas
            if analyzer == "stem"
            else term_positions_map_in_pandas
        )
        schema = TERM_POSITIONS_LANG_SCHEMA
        out_schema = BLOCKS_SCHEMA_POS
        tc = part.select("doc_id", "content", "lang").mapInPandas(kernel, schema)
    else:
        # default + stemmed paths: all-JVM tokenize+tf (term_counts_df —
        # array_sort + group-start Column algebra; the stemmed variant
        # stems the token array pre-sort so collisions merge for free).
        # Row-equal to the Arrow kernels (lockstep-tested) but with no
        # Python workers, no Arrow transfer, and no GIL in the widest
        # stage of the build.
        from smse_backend_spark.functions.tokenizer import term_counts_df

        out_schema = BLOCKS_SCHEMA
        tc = term_counts_df(
            part.select("doc_id", "content", "lang"), analyzer=analyzer,
            synonyms=synonyms,
        )
    tc = (
        tc
        .withColumn("segment", (F.col("doc_id") / segment_size).cast("long"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )
    obs_blocks = Observation(f"blocks_{batch_id}")
    seg_range = block_builder_seg_range(
        seg_hi - seg_lo, n_buckets, spark.sparkContext.defaultParallelism
    )
    blocks = apply_block_builder(
        tc, block_size, with_positions, out_schema, seg_range
    ).observe(
        obs_blocks, F.count(F.lit(1)).alias("n_blocks"), F.sum("n").alias("n_postings")
    )
    (
        blocks.repartition("lang", "term_bucket")
        .sortWithinPartitions("term", "segment", "block_no")
        .write.mode("overwrite")
        .partitionBy("lang", "term_bucket")
        .parquet(f"{out_dir}/postings/batch={batch_id}")
    )

    # per-lang breakdown into the lineage row: what time-travel reads
    # (as_of_batch corpus stats = sum over lineage rows, no docstats scan).
    # One tiny 2-column agg over the just-written batch docstats.
    per_lang = {
        r["lang"]: {"n_docs": int(r["n"]), "sum_dl": int(r["s"] or 0)}
        for r in spark.read.parquet(f"{out_dir}/docstats/batch={batch_id}")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s"))
        .collect()
    }
    st, bl = obs_docs.get, obs_blocks.get
    lin.commit_batch(
        out_dir, batch_id,
        corpus_snapshot=snapshot,
        seg_lo=seg_lo, seg_hi=seg_hi, doc_lo=lo_doc, doc_hi=hi_doc,
        n_docs=int(st["n_docs"] or 0), sum_dl=int(st["sum_dl"] or 0),
        per_lang=per_lang,
        n_blocks=int(bl["n_blocks"] or 0), n_postings=int(bl["n_postings"] or 0),
        bytes=lin.dir_bytes(f"{out_dir}/postings/batch={batch_id}"),
        partitions=partition_stats(spark, f"{out_dir}/postings/batch={batch_id}"),
    )


def partition_stats(spark: SparkSession, postings_dir: str) -> list[dict]:
    """Per-partition lineage rows for one batch's postings: partition id
    (lang, term_bucket), term range, term/block/posting counts, bytes —
    the target spec's "per-partition lineage (partition id, term range,
    doc count, bytes)" made explicit in each batch manifest. One
    metadata-cheap agg over the just-written columnar stats (term + n
    only; the compressed blobs are never read), plus a local listing per
    partition directory for bytes."""
    rows = (
        spark.read.parquet(postings_dir)
        .groupBy("lang", "term_bucket")
        .agg(
            F.min("term").alias("term_lo"), F.max("term").alias("term_hi"),
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("n").alias("n_postings"),
        )
        .collect()
    )
    return [
        {
            "lang": r["lang"], "term_bucket": int(r["term_bucket"]),
            "term_range": [r["term_lo"], r["term_hi"]],
            "n_terms": int(r["n_terms"]), "n_blocks": int(r["n_blocks"]),
            "n_postings": int(r["n_postings"]),
            "bytes": lin.dir_bytes(
                f"{postings_dir}/lang={r['lang']}/term_bucket={r['term_bucket']}"
            ),
        }
        for r in sorted(rows, key=lambda r: (r["lang"], r["term_bucket"]))
    ]


def extend_index(
    spark: SparkSession,
    new_docs: DataFrame,
    out_dir: str,
    input_partitions: int | None = None,
    snapshot_id: str | None = None,
) -> dict:
    """Append a corpus increment (e.g. the delta of a new Iceberg snapshot)
    to an existing index as ONE additional committed batch — no rebuild.

    The increment's doc_ids must lie strictly above every indexed segment
    (append-only corpora — Iceberg appends — satisfy this; the existing
    snapshot guard already refuses silent cross-snapshot resumes, and each
    batch's lineage row records WHICH snapshot it came from, so the index's
    history is the snapshot chain). Global BM25 statistics stay exact:
    :func:`finalize` re-derives the dictionary and corpus stats from ALL
    committed batches, and the query path already unions batch partitions.

    Retry-safe like the base build: batch data lands in fresh
    ``batch={id}`` dirs with overwrite semantics and the lineage row is
    the commit point. Open ``InvertedIndex`` handles cache dictionary and
    meta — create a new handle after extending.
    """
    rows = lin.read_lineage(out_dir)
    if not rows:
        raise ValueError(f"no committed batches at {out_dir} to extend")
    cfg = lin.read_meta(out_dir)["config"]
    seg_size = int(cfg["segment_size"])
    next_batch = max(r["batch_id"] for r in rows) + 1
    seg_base = max(r["seg_hi"] for r in rows)
    lo, hi = new_docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        raise ValueError("empty corpus increment")
    if lo < seg_base * seg_size:
        raise ValueError(
            f"increment doc_ids start at {lo}, below the indexed frontier "
            f"{seg_base * seg_size} — extension is append-only (rebuild, or "
            "remap increment ids above the frontier)"
        )
    seg_hi = hi // seg_size + 1
    snapshot = snapshot_id or corpus_snapshot(new_docs)
    _build_batch(
        spark, new_docs, out_dir, next_batch, seg_base, seg_hi, seg_size,
        int(cfg["n_buckets"]), int(cfg["block_size"]), input_partitions,
        snapshot, bool(cfg.get("with_positions", False)),
        cfg.get("analyzer", "standard"),
        tuple(cfg.get("docvalues", ())),
        cfg.get("synonyms"),
        bool(cfg.get("shingles", False)),
    )
    return finalize(
        spark, out_dir, {**cfg, "n_batches": next_batch + 1},
    )


def compact_index(spark: SparkSession, src_dir: str, dst_dir: str) -> dict:
    """Rewrite all committed batches into ONE batch at ``dst_dir`` — the
    Iceberg ``rewrite_data_files`` analog for this index layout.

    A long-lived index accumulates batches through :func:`extend_index`
    (one per corpus snapshot); every batch multiplies the file count and
    the per-query partition listing. Compaction is a pure data-file
    rewrite: compressed posting blocks are copied as-is (no re-tokenize,
    no re-decode — blocks are keyed by disjoint ``segment`` ranges across
    batches, so the union IS the merged index) into a single
    ``batch=0`` tree, globally clustered by ``(term, segment, block_no)``
    within each ``(lang, term_bucket)`` partition so parquet row-group
    stats prune term lookups tighter than the per-batch files did.
    Queries against the compacted index are bit-identical: same blocks,
    same dictionary, same corpus stats (re-derived by :func:`finalize`).

    If the source index carries tombstones (``deletes.delete_docs``),
    compaction applies them PHYSICALLY — Lucene's merge semantics: the
    deleted docs' postings and docstats rows are dropped (one decode →
    left-anti join → re-block pass) and :func:`finalize` then re-derives
    exact global stats, so post-compaction scores reflect the smaller
    corpus and the compacted index carries no tombstones.

    Writes to a fresh ``dst_dir`` (refuses a dir with committed batches)
    rather than in place, so readers of ``src_dir`` are never exposed to
    a half-compacted tree — swap directories (or table pointers) after it
    returns, exactly like an Iceberg snapshot swap. The single lineage
    row keeps the provenance chain in ``compacted_from``.
    """
    from smse_backend_spark.index import deletes

    rows = lin.read_lineage(src_dir)
    if not rows:
        raise ValueError(f"no committed batches at {src_dir} to compact")
    if src_dir.rstrip("/") == dst_dir.rstrip("/"):
        raise ValueError("in-place compaction unsupported — give a fresh dst_dir")
    if lin.committed_batches(dst_dir):
        raise ValueError(f"dst {dst_dir} already has committed batches")
    cfg = lin.read_meta(src_dir)["config"]
    tomb = deletes.read_tombstones(spark, src_dir)
    if tomb is not None and deletes.tombstone_count(src_dir) <= 10_000_000:
        tomb = F.broadcast(tomb)

    from pyspark.sql import Observation

    postings = spark.read.parquet(f"{src_dir}/postings")
    docstats = spark.read.parquet(f"{src_dir}/docstats")
    counters: dict
    if tomb is None:
        # pure data-file rewrite: blocks copied verbatim, counters summed
        # from the source lineage
        data_cols = [c for c in postings.columns if c != "batch"]
        (
            postings.select(*data_cols)
            .repartition("lang", "term_bucket")
            .sortWithinPartitions("term", "segment", "block_no")
            .write.mode("overwrite")
            .partitionBy("lang", "term_bucket")
            .parquet(f"{dst_dir}/postings/batch=0")
        )
        docstats.drop("batch").write.mode("overwrite").parquet(
            f"{dst_dir}/docstats/batch=0"
        )
        merged_pl: dict = {}
        for r in rows:
            for lg, st_ in (r.get("per_lang") or {}).items():
                acc = merged_pl.setdefault(lg, {"n_docs": 0, "sum_dl": 0})
                acc["n_docs"] += st_["n_docs"]
                acc["sum_dl"] += st_["sum_dl"]
        counters = {
            "n_docs": sum(r.get("n_docs", 0) for r in rows),
            "sum_dl": sum(r.get("sum_dl", 0) for r in rows),
            "per_lang": merged_pl,
            "n_blocks": sum(r.get("n_blocks", 0) for r in rows),
            "n_postings": sum(r.get("n_postings", 0) for r in rows),
        }
    else:
        # tombstones present: decode -> drop deleted docs -> re-block.
        # Blocks must be rebuilt (a block's first_doc/gaps/stats change
        # when members vanish), but the pass reuses the build kernels and
        # stays one wide shuffle, same as an index batch. Positional
        # indexes additionally decode each posting's offset list from the
        # poss blobs (offsets are doc-relative, so survivors' lists pass
        # through unchanged into the rebuilt blocks).
        with_pos = bool(cfg.get("with_positions"))
        seg_size = int(cfg["segment_size"])
        n_buckets = int(cfg["n_buckets"])
        nparts = min(512, 4 * spark.sparkContext.defaultParallelism)
        blob_cols = ["lang", "term", "first_doc", "gaps", "tfs", "dls"]
        dec_kernel = _decode_postings_with_lang
        dec_schema = "lang string, term string, doc_id long, tf long, doc_len long"
        if with_pos:
            blob_cols.append("poss")
            dec_kernel = _decode_postings_with_lang_pos
            dec_schema += ", positions array<long>"
        decoded = (
            postings.select(*blob_cols)
            .repartition(nparts)
            .mapInPandas(dec_kernel, dec_schema)
            .join(tomb, "doc_id", "left_anti")
            .withColumn("segment", (F.col("doc_id") / seg_size).cast("long"))
            .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
        )
        obs_blocks = Observation("compact_blocks")
        (
            apply_block_builder(
                decoded, int(cfg["block_size"]), with_pos,
                BLOCKS_SCHEMA_POS if with_pos else BLOCKS_SCHEMA,
                block_builder_seg_range(
                    max(r["seg_hi"] for r in rows), n_buckets,
                    spark.sparkContext.defaultParallelism,
                ),
            )
            .observe(obs_blocks, F.count(F.lit(1)).alias("n_blocks"),
                     F.sum("n").alias("n_postings"))
            .repartition("lang", "term_bucket")
            .sortWithinPartitions("term", "segment", "block_no")
            .write.mode("overwrite")
            .partitionBy("lang", "term_bucket")
            .parquet(f"{dst_dir}/postings/batch=0")
        )
        obs_docs = Observation("compact_docs")
        (
            docstats.drop("batch")
            .join(tomb, "doc_id", "left_anti")
            .observe(obs_docs, F.count(F.lit(1)).alias("n_docs"),
                     F.sum("doc_len").alias("sum_dl"))
            .write.mode("overwrite")
            .parquet(f"{dst_dir}/docstats/batch=0")
        )
        st, bl = obs_docs.get, obs_blocks.get
        live_pl = {
            r["lang"]: {"n_docs": int(r["n"]), "sum_dl": int(r["s"] or 0)}
            for r in spark.read.parquet(f"{dst_dir}/docstats/batch=0")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s"))
            .collect()
        }
        counters = {
            "n_docs": int(st["n_docs"] or 0), "sum_dl": int(st["sum_dl"] or 0),
            "per_lang": live_pl,
            "n_blocks": int(bl["n_blocks"] or 0),
            "n_postings": int(bl["n_postings"] or 0),
            "tombstones_applied": deletes.tombstone_count(src_dir),
        }

    if cfg.get("shingles"):
        # the bigram LM is corpus-derived; a physical-delete compaction
        # cannot subtract the deleted docs' pairs from it — refuse rather
        # than silently carry stale counts (rebuild from the corpus to
        # compact a shingled index with tombstones)
        if deletes.tombstone_count(src_dir):
            raise ValueError(
                "cannot compact a shingled index with tombstones — the "
                "bigram model cannot drop deleted docs' pairs; rebuild "
                "from the corpus instead"
            )
        (
            spark.read.parquet(f"{src_dir}/shingles")
            .groupBy("lang", "a", "b")
            .agg(F.sum("n").alias("n"))
            .write.mode("overwrite")
            .parquet(f"{dst_dir}/shingles/batch=0")
        )

    snaps = {r.get("corpus_snapshot") for r in rows}
    snapshot = snaps.pop() if len(snaps) == 1 else None
    lin.commit_batch(
        dst_dir, 0,
        corpus_snapshot=snapshot,
        compacted_from=[
            {"batch_id": r["batch_id"], "corpus_snapshot": r.get("corpus_snapshot")}
            for r in rows
        ],
        seg_lo=min(r["seg_lo"] for r in rows),
        seg_hi=max(r["seg_hi"] for r in rows),
        doc_lo=min(r["doc_lo"] for r in rows),
        doc_hi=max(r["doc_hi"] for r in rows),
        bytes=lin.dir_bytes(f"{dst_dir}/postings/batch=0"),
        partitions=partition_stats(spark, f"{dst_dir}/postings/batch=0"),
        **counters,
    )
    return finalize(
        spark, dst_dir, {**cfg, "n_batches": 1, "corpus_snapshot": snapshot},
    )


def _decode_postings_with_lang(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Decode compressed blocks back to posting rows, keeping ``lang``
    (the query-side decoder drops it; compaction regroups by it)."""
    from smse_backend_spark.index.codec import decode_blocks, delta_decode

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
                "lang": np.repeat(pdf["lang"].to_numpy(), counts),
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "doc_id": doc_ids,
                "tf": tfs.astype(np.int64),
                "doc_len": dls.astype(np.int64),
            }
        )


def _decode_postings_with_lang_pos(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Positions-aware twin of :func:`_decode_postings_with_lang`: also
    reconstructs each posting's absolute token offsets from the per-block
    ``poss`` blobs (encoded first-raw-then-gaps per posting; see
    :func:`make_block_builder`). Offsets are doc-relative, so they decode
    to exactly what the positional build kernel expects back."""
    from smse_backend_spark.index.codec import decode_blocks, delta_decode

    for pdf in batches:
        if pdf.empty:
            continue
        gaps, counts = decode_blocks(list(pdf["gaps"]))
        tfs, _ = decode_blocks(list(pdf["tfs"]))
        dls, _ = decode_blocks(list(pdf["dls"]))
        doc_ids = delta_decode(
            gaps.astype(np.int64), pdf["first_doc"].to_numpy(np.int64), counts
        )
        tf_i = tfs.astype(np.int64)
        d = decode_blocks(list(pdf["poss"]))[0].astype(np.int64)
        post_starts = np.concatenate(([0], np.cumsum(tf_i[:-1])))
        # invert "first raw, then gaps": running sum reset per posting
        c = np.cumsum(d)
        flat = c - np.repeat(c[post_starts], tf_i) + np.repeat(d[post_starts], tf_i)
        yield pd.DataFrame(
            {
                "lang": np.repeat(pdf["lang"].to_numpy(), counts),
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "doc_id": doc_ids,
                "tf": tf_i,
                "doc_len": dls.astype(np.int64),
                "positions": np.split(flat, np.cumsum(tf_i)[:-1]),
            }
        )


def merge_indexes(
    spark: SparkSession, src_dirs: list[str], dst_dir: str
) -> dict:
    """Merge N indexes with identical configs and disjoint doc-id ranges
    into one index at ``dst_dir`` — the shard-consolidation op (e.g. per-
    crawl or per-tenant indexes built independently, unified for serving).

    Batch data dirs are immutable, so the merge is a MANIFEST-level relink:
    each source batch dir is copied under a renumbered batch id (on an
    object store this is a listing + server-side copy — no posting blob is
    ever decoded or re-encoded, the Lucene no-rewrite segment-merge
    analog), tombstone sets are unioned into one fresh delete commit, and
    :func:`finalize` re-derives the dictionary and exact global BM25 stats
    over the union. Disjointness is checked from lineage doc ranges (batch
    ranges are segment-aligned, so disjoint doc ranges imply disjoint
    segments) — overlapping sources must go through rebuild instead.
    """
    import shutil

    from smse_backend_spark.index import deletes

    if len(src_dirs) < 2:
        raise ValueError("merge_indexes needs at least two source indexes")
    metas = [lin.read_meta(s) for s in src_dirs]

    def _key(cfg: dict) -> tuple:
        return (
            int(cfg["segment_size"]), int(cfg["n_buckets"]),
            int(cfg["block_size"]), bool(cfg.get("with_positions", False)),
            tuple(cfg.get("docvalues", ())), bool(cfg.get("shingles", False)),
        )

    if len({_key(m["config"]) for m in metas}) != 1:
        raise ValueError(
            "merge_indexes requires identical (segment_size, n_buckets, "
            f"block_size, with_positions) configs, got "
            f"{[m['config'] for m in metas]}"
        )
    all_rows = []
    for s in src_dirs:
        rows = lin.read_lineage(s)
        if not rows:
            raise ValueError(f"no committed batches at {s}")
        all_rows.append(sorted(rows, key=lambda r: r["batch_id"]))
    # empty batches (a source built over a doc-id-filtered corpus commits
    # zero-doc batches for the uncovered segment range) can't conflict
    intervals = sorted(
        (r["doc_lo"], r["doc_hi"], i)
        for i, rows in enumerate(all_rows)
        for r in rows
        if r.get("n_docs", 0) > 0
    )
    for (a_lo, a_hi, ai), (b_lo, b_hi, bi) in zip(intervals, intervals[1:]):
        if b_lo < a_hi and ai != bi:
            raise ValueError(
                f"doc-id ranges overlap across sources "
                f"({src_dirs[ai]} [{a_lo},{a_hi}) vs "
                f"{src_dirs[bi]} [{b_lo},{b_hi})) — refusing to merge"
            )
    os.makedirs(dst_dir, exist_ok=True)
    next_b = 0
    for s, rows in zip(src_dirs, all_rows):
        for r in rows:
            b = r["batch_id"]
            for sub in ("postings", "docstats", "shingles"):
                src_p = os.path.join(s, sub, f"batch={b}")
                if os.path.isdir(src_p):
                    shutil.copytree(
                        src_p,
                        os.path.join(dst_dir, sub, f"batch={next_b}"),
                        dirs_exist_ok=True,
                    )
            fields = {k: v for k, v in r.items() if k != "batch_id"}
            fields["merged_from"] = s
            lin.commit_batch(dst_dir, next_b, **fields)
            next_b += 1
    tombs = [
        t for t in (deletes.read_tombstones(spark, s) for s in src_dirs)
        if t is not None
    ]
    if tombs:
        merged_tombs = tombs[0]
        for t in tombs[1:]:
            merged_tombs = merged_tombs.unionByName(t)
        deletes.delete_docs(spark, dst_dir, merged_tombs.distinct())
    cfg = dict(metas[0]["config"])
    cfg["n_batches"] = next_b
    cfg["merged_from"] = [os.path.abspath(s) for s in src_dirs]
    return finalize(spark, dst_dir, cfg)


def finalize(spark: SparkSession, out_dir: str, config: dict) -> dict:
    """Derive dictionary + corpus stats from committed batches; write meta."""
    from pyspark.sql import Observation

    postings = spark.read.parquet(f"{out_dir}/postings")
    obs_dict = Observation("dictionary")
    (
        postings.groupBy("lang", "term")
        .agg(F.sum("n").alias("df"), F.sum("block_sum_tf").alias("cf"))
        # few files locally; at scale the bucket count keeps dictionary
        # lookups pruned by parquet row-group stats on the sorted term col
        .repartition(int(config.get("n_buckets", 8)), "term")
        .sortWithinPartitions("term")
        .observe(obs_dict, F.count(F.lit(1)).alias("n_terms"))
        .write.mode("overwrite")
        .parquet(f"{out_dir}/dictionary")
    )
    n_terms = int(obs_dict.get["n_terms"])
    docstats = spark.read.parquet(f"{out_dir}/docstats")
    per_lang = {
        r["lang"]: {"n_docs": int(r["n_docs"]), "sum_dl": int(r["sum_dl"] or 0)}
        for r in docstats.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_len").alias("sum_dl"))
        .collect()
    }
    lineage_rows = lin.read_lineage(out_dir)
    sort_hist = None
    sfld = config.get("sort_field")
    if sfld:
        # Lucene index-sorting analog: a (doc_id, field) projection
        # range-partitioned and sorted DESC by the field, so a ">= T"
        # predicate prunes whole files/row groups at read time; plus an
        # exact descending histogram (equi-width boundaries, exact
        # cumulative counts) in meta so the query side can pick the
        # tightest provably-sufficient threshold without any scan.
        dv = spark.read.parquet(f"{out_dir}/docstats").select("doc_id", sfld)
        n_docs_total = sum(r.get("n_docs", 0) for r in lineage_rows)
        nparts = max(1, min(32, n_docs_total // 4096 + 1))
        (
            dv.repartitionByRange(nparts, F.col(sfld).desc())
            .sortWithinPartitions(F.col(sfld).desc(), F.col("doc_id").asc())
            .write.mode("overwrite")
            .parquet(f"{out_dir}/sorted_dv/{sfld}")
        )
        lo, hi = dv.agg(F.min(sfld), F.max(sfld)).first()
        if lo is None or hi is None:
            # empty corpus (or a lang-filtered build with zero docs): no
            # projection rows were written and there is nothing to bin —
            # skip the histogram instead of TypeError-ing on int(None).
            sfld = None
    if sfld:
        lo, hi = int(lo), int(hi)
        m = 32
        bounds = sorted(
            {lo} | {lo + (hi - lo) * i // m for i in range(1, m + 1)},
            reverse=True,
        )
        hi_b = sorted({hi} | set(bounds), reverse=True)
        counts = dv.agg(
            *[
                F.sum((F.col(sfld) >= b).cast("long")).alias(f"c{i}")
                for i, b in enumerate(bounds)
            ],
            *[
                F.sum((F.col(sfld) <= b).cast("long")).alias(f"le{i}")
                for i, b in enumerate(hi_b)
            ],
        ).first()
        sort_hist = {
            "field": sfld,
            "bounds": bounds,
            "cum_counts": [int(counts[f"c{i}"]) for i in range(len(bounds))],
            # ascending direction: count(field <= b) at each bound (bounds
            # include the max so a full-range asc scan has a cap too)
            "bounds_asc": hi_b,
            "cum_counts_le": [
                int(counts[f"le{i}"]) for i in range(len(hi_b))
            ],
        }
    meta = {
        "config": config,
        "n_terms": n_terms,
        "n_postings": sum(r.get("n_postings", 0) for r in lineage_rows),
        "n_docs": sum(v["n_docs"] for v in per_lang.values()),
        "sum_dl": sum(v["sum_dl"] for v in per_lang.values()),
        "per_lang": per_lang,
        "batches": sorted(lin.committed_batches(out_dir)),
        "sort_histogram": sort_hist,
    }
    lin.write_meta(out_dir, meta)
    return meta


def check_index(spark: SparkSession, index_dir: str) -> dict:
    """Integrity audit: recount blocks/postings/docs from the data files
    and compare against the committed lineage counters and meta totals —
    the serving-side guard that a partially written, hand-mutated, or
    bit-rotted index is caught before queries silently under-return.
    Metadata columns only (posting blobs are never read), so the audit
    costs a column-pruned scan even at full scale.

    Returns ``{"ok": bool, "problems": [...], "batches": n}``.
    """
    problems: list[str] = []
    rows = lin.read_lineage(index_dir)
    if not rows:
        return {"ok": False, "problems": ["no committed batches"], "batches": 0}
    meta = lin.read_meta(index_dir)

    postings = spark.read.parquet(f"{index_dir}/postings")
    per_batch = {
        int(r["batch"]): r
        for r in postings.groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("n").alias("n_postings"),
            F.min("first_doc").alias("lo"),
            F.max("last_doc").alias("hi"),
        )
        .collect()
    }
    docstats = spark.read.parquet(f"{index_dir}/docstats")
    ds_batch = {
        int(r["batch"]): r
        for r in docstats.groupBy("batch")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_len").alias("sum_dl"))
        .collect()
    }
    for row in rows:
        b = row["batch_id"]
        pb, db = per_batch.get(b), ds_batch.get(b)
        if pb is None or db is None:
            problems.append(f"batch {b}: committed but data files missing")
            continue
        for field, actual in (
            ("n_blocks", int(pb["n_blocks"])),
            ("n_postings", int(pb["n_postings"])),
            ("n_docs", int(db["n_docs"])),
            ("sum_dl", int(db["sum_dl"] or 0)),
        ):
            if row.get(field) is not None and int(row[field]) != actual:
                problems.append(
                    f"batch {b}: lineage {field}={row[field]} != data {actual}"
                )
        if pb["lo"] is not None and not (
            row["doc_lo"] <= int(pb["lo"]) and int(pb["hi"]) < row["doc_hi"]
        ):
            problems.append(
                f"batch {b}: doc range [{pb['lo']}, {pb['hi']}] outside "
                f"committed [{row['doc_lo']}, {row['doc_hi']})"
            )
    for b in set(per_batch) - {r["batch_id"] for r in rows}:
        problems.append(f"batch {b}: data files present but not committed")

    d = spark.read.parquet(f"{index_dir}/dictionary")
    n_terms, total_df = d.agg(
        F.count(F.lit(1)), F.sum("df")
    ).first()
    if int(n_terms) != int(meta.get("n_terms", -1)):
        problems.append(f"dictionary n_terms {n_terms} != meta {meta.get('n_terms')}")
    total_postings = sum(int(r.get("n_postings", 0)) for r in rows)
    if int(total_df or 0) != total_postings:
        problems.append(
            f"dictionary sum(df)={total_df} != lineage postings {total_postings}"
        )
    if int(meta.get("n_docs", -1)) != sum(int(r.get("n_docs", 0)) for r in rows):
        problems.append("meta n_docs != sum of lineage batches")
    return {"ok": not problems, "problems": problems, "batches": len(rows)}
