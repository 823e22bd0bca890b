"""The workloads: ``index`` and ``search``.

Each one drives the engine through public functions of its modules —
``corpus.load_corpus``, ``build.build_index`` / ``extend_index`` /
``finalize`` / ``check_index``, ``deletes.delete_docs``,
``lineage.read_lineage``, ``query.InvertedIndex`` and
``codec.decode_blocks`` — with one closed-loop client in this process
against ``local[N]``. Every answer is compared with the oracle; a wrong
answer or an exception counts as a failed operation.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import corpusgen
from oracle import QUERY_CLASSES, Oracle, QueryMix
from tracing import SparkCounter, Tracer

from smse_backend_spark.corpus import load_corpus, verify_sha256_invariant
from smse_backend_spark.functions.tokenizer import term_counts_df, tokenize_py
from smse_backend_spark.index import build as build_mod
from smse_backend_spark.index import deletes as deletes_mod
from smse_backend_spark.index import lineage as lineage_mod
from smse_backend_spark.index.codec import decode_blocks
from smse_backend_spark.index.query import InvertedIndex
from smse_backend_spark.operators.search import query_terms

SEGMENT = 1024           # build segment size; every slice starts on a segment
BASE_DOCS = 4 * SEGMENT  # docs of search's index (code-longtail: > 500k terms)
INDEX_BASE_DOCS = 3 * SEGMENT  # docs of index's bulk build; its append reaches BASE_DOCS
INDEX_STEPS = 1          # append steps of the index workload, one segment each
SETUP_REPS = 3           # cold serving opens whose median is setup_s
DELETES_PER_STEP = 3     # of them, all but one come from the next query's top k
QUERY_POOL = 240         # search queries with precomputed answers
CROSS_CHECK_DOCS = 256   # the oracle twin is compared with bm25_topk_py on these
OVERHEAD_PAIRS = 3       # queries answered traced and untraced, for the overhead
K = 10
# the untimed warm-up corpus: small, so it is generated in a blink
WARMUP = corpusgen.Profile("warmup", n_docs=128, n_idents=2000, zipf_a=1.0,
                           idents_per_doc=32, lines_per_doc=60, tail_per_doc=8,
                           n_repos=4)


def p50(xs):
    return statistics.median(xs)


def warmup(spark, work: str, seed: int) -> float:
    """Untimed pass over every engine call the timed part makes — a build,
    an extend, a delete and a query — on a small corpus of its own, so that
    the timed calls run in a warm JVM; it runs while the workload's oracle
    is still being built. Returns its wall time."""
    t = time.perf_counter()
    rows = corpusgen.generate(WARMUP, seed)
    half = WARMUP.n_docs // 2
    # the increment starts at the segment frontier above the base
    rows["doc_id"] = [d if d < half else d - half + SEGMENT for d in rows["doc_id"]]
    dirs = []
    for name, lo, hi in (("warmup", 0, half), ("warmup_inc", half, WARMUP.n_docs)):
        dirs.append(os.path.join(work, "corpus", name))
        os.makedirs(dirs[-1])
        corpusgen.write_parquet(rows, os.path.join(dirs[-1], "documents.parquet"), lo, hi)
    out = os.path.join(work, "idx_warmup")
    build_mod.build_index(spark, load_corpus(spark, dirs[0]), out,
                          segment_size=SEGMENT, n_batches=1)
    build_mod.extend_index(spark, load_corpus(spark, dirs[1]), out)
    deletes_mod.delete_docs(spark, out, [0])
    InvertedIndex(spark, out).bm25_topk("def return", K).collect()
    return time.perf_counter() - t


def host_gauge_ms() -> float:
    """Median wall time of a fixed pure-Python task (tokenizing a fixed
    text): a gauge of the host's speed, printed with each run so that runs
    made while the host was slow can be told apart."""
    text = corpusgen.generate(WARMUP, 0)["text"][0] * 40
    times = []
    for _ in range(7):
        t = time.perf_counter()
        tokenize_py(text)
        times.append(1000 * (time.perf_counter() - t))
    return p50(times)


def generate(profile: str, seed: int) -> dict:
    """The workload's corpus rows, with the seconds they took."""
    t = time.perf_counter()
    rows = corpusgen.generate(corpusgen.PROFILES[profile], seed)
    rows["seconds"] = time.perf_counter() - t
    return rows


def prepare_oracle(rows: dict, seed: int) -> dict:
    """The corpus's oracle, and every profile's dictionary entries over
    ``BASE_DOCS`` docs. Pure Python, so it can run beside Spark work."""
    t = time.perf_counter()
    oracle = Oracle(rows)
    name = rows["params"]["name"]
    entries = {name: oracle.dict_entries(BASE_DOCS)}
    for other, prof in corpusgen.PROFILES.items():
        if other != name:
            entries[other] = Oracle(corpusgen.generate(prof, seed)).dict_entries(BASE_DOCS)
    return {"oracle": oracle, "dict_entries": entries,
            "seconds": time.perf_counter() - t}


class Run:
    """State shared by one workload run: session, corpus, oracle, counters,
    per-layer samples, and the failure log."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool,
                 rows: dict, oracle_future, warmup_s: float):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.counter = SparkCounter(spark)
        self.rng = np.random.default_rng([seed, 7])
        self.rows = rows
        self._oracle_future = oracle_future
        self.oracle: Oracle | None = None
        # generation overlaps the JVM start
        self.phases: dict[str, float] = {"generate": rows["seconds"],
                                         "warmup": warmup_s}
        self._mark = time.perf_counter()
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {"generator": self.rows["params"]}
        self.tombs: set[int] = set()
        self.indexed = 0
        self.meta: dict = {}
        self.base_dir = ""
        self.op_ms: list[float] = []
        self.overhead_pct = float("nan")

    # -- bookkeeping --------------------------------------------------------

    def phase(self, name: str) -> None:
        """Wall time since the previous phase mark, for the run details."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        """One checked outcome: counts as attempted, and as failed if wrong."""
        if ok:
            self.attempted += 1
        else:
            self.fail(what)

    def timed(self, name: str, fn, *args, **kw):
        """Call ``fn`` inside a span; record its wall time under ``name``."""
        with self.tracer.span(name):
            t = time.perf_counter()
            out = fn(*args, **kw)
            self.sample(name, time.perf_counter() - t)
        return out

    def await_oracle(self) -> None:
        """Wait for the oracle, built beside the engine's first build, and
        check the profile sizes it counted."""
        ready = self._oracle_future.result()
        self.oracle = ready["oracle"]
        self.info["tokens"] = self.oracle.n_tokens
        self.check_profiles(ready["dict_entries"])
        self.phases["oracle"] = ready["seconds"]

    def check_profiles(self, entries: dict) -> None:
        """code-longtail must overflow the driver dictionary cache and
        code-small must fit it, or a workload measures the wrong path."""
        cap = InvertedIndex.DICT_CACHE_MAX_TERMS
        self.info["profiles"] = {"dict_cache_max_terms": cap, "docs": BASE_DOCS,
                                 "dict_entries": entries}
        for name, n in entries.items():
            over = name == "code-longtail"
            self.check((n > cap) == over,
                       f"profile {name}: {n} dictionary entries vs cache cap {cap}")

    # -- corpus slices ------------------------------------------------------

    def write_slice(self, name: str, lo: int, hi: int) -> str:
        if lo % SEGMENT:
            # extend_index refuses an increment below the segment frontier
            raise ValueError(f"slice [{lo}, {hi}) is not segment-aligned")
        d = os.path.join(self.work, "corpus", name)
        os.makedirs(d, exist_ok=True)
        corpusgen.write_parquet(self.rows, os.path.join(d, "documents.parquet"), lo, hi)
        return d

    def input_bytes(self, n_docs: int) -> int:
        return sum(len(t.encode()) for t in self.rows["text"][:n_docs])

    # -- engine calls with their checks -------------------------------------

    def bulk_build(self, corpus_dir: str, out: str, n_docs: int) -> None:
        corpus = load_corpus(self.spark, corpus_dir)
        with self.counter.op("build"):
            self.meta = self.timed("build.build_index", build_mod.build_index,
                                   self.spark, corpus, out, segment_size=SEGMENT,
                                   n_batches=1)
        self.indexed = n_docs
        self.base_dir = corpus_dir
        if self.oracle is None:
            self.await_oracle()
        self.check_built(out)

    def check_uncached(self) -> None:
        """The index being queried must overflow the driver dictionary
        cache, so every query reads the parquet dictionary."""
        cap = InvertedIndex.DICT_CACHE_MAX_TERMS
        self.check(self.meta["n_terms"] > cap,
                   f"built n_terms {self.meta['n_terms']} fits the cache cap {cap}")

    def extend(self, corpus_dir: str, out: str, hi: int) -> float:
        """extend_index; the caller runs check_built afterwards, outside
        whatever it times."""
        corpus = load_corpus(self.spark, corpus_dir)
        with self.counter.op("extend"):
            t = time.perf_counter()
            self.meta = self.timed("build.extend_index", build_mod.extend_index,
                                   self.spark, corpus, out)
            dt = time.perf_counter() - t
        self.indexed = hi
        return dt

    def check_built(self, out: str) -> None:
        """check_index plus the lineage, meta and dictionary counts against
        the oracle's, for the docs indexed so far."""
        self.phase("engine")
        meta, n = self.meta, self.indexed
        with self.tracer.span("bench.check"):
            chk = build_mod.check_index(self.spark, out)
            self.check(chk["ok"], f"check_index: {chk['problems']}")
            lin_docs = sum(r["n_docs"] for r in lineage_mod.read_lineage(out))
            self.check(lin_docs == n, f"lineage n_docs {lin_docs} != {n}")
            self.check(meta["n_docs"] == n, f"meta n_docs {meta['n_docs']} != {n}")
            want_terms = self.oracle.dict_entries(n)
            self.check(meta["n_terms"] == want_terms,
                       f"n_terms {meta['n_terms']} != oracle {want_terms}")
            want_post = self.oracle.n_postings(n)
            self.check(meta["n_postings"] == want_post,
                       f"n_postings {meta['n_postings']} != oracle {want_post}")
            self.info["n_terms"] = meta["n_terms"]
            self.info["indexed_tokens"] = self.oracle.tokens(n)
            self.info["tokens_per_entry"] = self.oracle.tokens(n) / meta["n_terms"]
        self.phase("check")

    def check_corpus(self) -> None:
        n = verify_sha256_invariant(load_corpus(self.spark, self.base_dir))
        self.info["sha_violations"] = n
        self.check(n == 0, f"{n} sha256 invariant violations")
        self.phase("check")

    def delete(self, out: str, q: str, lang) -> float:
        """delete_docs on live ids: all but one drawn from the current top k
        of ``q``, the query answered next, so that answer is right only if
        the engine drops tombstoned docs; the last one from all live docs."""
        top = [d for d, _ in self.expected(q, lang)]
        ids = {int(x) for x in self.rng.choice(
            top, min(len(top), DELETES_PER_STEP - 1), replace=False)}
        live = [d for d in range(self.indexed) if d not in self.tombs | ids]
        ids.update(int(x) for x in self.rng.choice(
            live, DELETES_PER_STEP - len(ids), replace=False))
        ids = sorted(ids)
        with self.counter.op("delete"):
            t = time.perf_counter()
            row = self.timed("deletes.delete_docs", deletes_mod.delete_docs,
                             self.spark, out, ids)
            dt = time.perf_counter() - t
        self.check(row["n_deleted"] == len(ids), f"delete committed {row}")
        self.tombs.update(ids)
        return dt

    def open_index(self, out: str) -> InvertedIndex:
        ix = self.timed("query.open", InvertedIndex, self.spark, out)
        if self.tracer.enabled:
            # time the dictionary lookup inside bm25_topk as its own layer
            inner = ix.term_df
            ix.term_df = lambda *a, **kw: self.timed("query.term_df", inner, *a, **kw)
        return ix

    def query(self, ix: InvertedIndex, q: str, lang, want, op_type="query") -> float:
        """One bm25_topk, answered and checked; returns its latency (s), NaN
        if the engine raised."""
        try:
            with self.counter.op(op_type):
                t = time.perf_counter()
                df = self.timed("query.plan", ix.bm25_topk, q, K, lang)
                rows = self.timed("query.execute", df.collect)
                dt = time.perf_counter() - t
        except Exception as e:  # an engine error is a failed operation
            self.fail(f"query {q!r}/{lang}: {type(e).__name__}: {e}")
            return float("nan")
        got = [(r["doc_id"], r["score"]) for r in rows]
        ok = [d for d, _ in got] == [d for d, _ in want] and all(
            abs(gs - ws) <= 1e-6 for (_, gs), (_, ws) in zip(got, want))
        self.check(ok, f"query {q!r}/{lang}: got {got[:3]} want {want[:3]}")
        self.sample("query.postings", sum(
            self.oracle.df(t, self.indexed, lang) for t in query_terms(q)))
        return dt

    def expected(self, q: str, lang) -> list:
        return self.oracle.topk(q, K, self.indexed, self.tombs, lang)

    def setup_reps(self, out: str, mix: QueryMix, n: int, skip: int = 0) -> None:
        """setup_s: a cold serving open — a new InvertedIndex handle and its
        first answered query, a mid-frequency identifier — repeated, median
        taken. The first ``skip`` opens only warm the query path."""
        for i in range(n):
            q, lang = mix.query("mid")
            want = self.expected(q, lang)
            with self.tracer.span("op.open"):
                seconds = self.cold_open(out, q, lang, want, "open")
            if i >= skip:
                self.sample("setup", seconds)
        self.phase("setup")

    def cold_open(self, out: str, q: str, lang, want, op_type: str) -> float:
        """A new handle and its first answered query; returns the seconds
        the two engine calls took."""
        t = time.perf_counter()
        ix = self.open_index(out)
        t_open = time.perf_counter() - t
        return t_open + self.query(ix, q, lang, want, op_type=op_type)

    def cross_check(self) -> None:
        """The oracle twin must equal bm25_topk_py itself on one query of
        each class. bm25_topk_py re-tokenizes every doc per query, so the
        comparison runs over the first CROSS_CHECK_DOCS docs."""
        mix = QueryMix(self.oracle, CROSS_CHECK_DOCS, corpusgen.KEYWORDS, self.rng)
        queries = mix.cycle(len(QUERY_CLASSES))
        for what in self.oracle.cross_check(queries, CROSS_CHECK_DOCS):
            self.fail(what)
        self.attempted += len(queries)
        self.phase("cross_check")

    # -- per-layer probes (traced runs) ---------------------------------------

    def measure_overhead(self, out: str, queries) -> None:
        """Tracing overhead against the untraced path, paired: each query is
        answered on a plain handle with the tracer off and on a traced
        handle (spans plus the term_df wrapper), alternating which goes
        first; both handles answer once before. The per-layer samples of
        these calls are discarded."""
        saved = {k: list(v) for k, v in self.samples.items()}
        self.tracer.op_id = "overhead"
        pairs = [(q, lang, self.expected(q, lang)) for q, lang in queries]
        handles = {}
        for traced in (False, True):
            self.tracer.enabled = traced
            handles[traced] = self.open_index(out)
            self.query(handles[traced], *pairs[0], op_type="overhead")
        total = {False: 0.0, True: 0.0}
        for i, (q, lang, want) in enumerate(pairs):
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                self.tracer.enabled = traced
                with self.tracer.span("op.query"):
                    total[traced] += self.query(handles[traced], q, lang, want,
                                                op_type="overhead")
        self.tracer.enabled = True
        self.tracer.op_id = None
        self.samples = saved
        self.overhead_pct = 100 * (total[True] / total[False] - 1)
        self.phase("overhead")

    def probes(self, out: str) -> None:
        """Per-layer calls made once, after the workload, in a traced run."""
        self.tracer.op_id = "probe"
        corpus = load_corpus(self.spark, self.base_dir)
        n_docs = pq.ParquetFile(os.path.join(self.base_dir, "documents.parquet")) \
            .metadata.num_rows
        with self.tracer.span("corpus.scan"):
            t = time.perf_counter()
            corpus.write.format("noop").mode("overwrite").save()
            self.sample("corpus.scan_docs_per_s", n_docs / (time.perf_counter() - t))
        # the tokenizer pass runs over the first segment only, to keep
        # traced runs short
        corpus = corpus.where(corpus.doc_id < SEGMENT)
        self.base_postings = self.oracle.n_postings(SEGMENT)
        with self.tracer.span("tokenizer.term_counts"):
            t = time.perf_counter()
            term_counts_df(corpus.select("doc_id", "content", "lang")) \
                .write.format("noop").mode("overwrite").save()
            self.sample("tokenizer.postings_per_s",
                        self.base_postings / (time.perf_counter() - t))
        meta = lineage_mod.read_meta(out)
        self.timed("build.finalize", build_mod.finalize, self.spark, out, meta["config"])
        rows = self.timed("lineage.read", lineage_mod.read_lineage, out)
        files = glob.glob(os.path.join(out, "postings", "**", "*.parquet"), recursive=True)
        blocks = pq.ParquetDataset(os.path.join(out, "postings")).read(
            columns=["n", "gaps", "tfs", "dls"])
        sub = blocks.take(self.rng.choice(blocks.num_rows, min(blocks.num_rows, 20000),
                                          replace=False))
        blobs = [sub.column(c).to_pylist() for c in ("gaps", "tfs", "dls")]
        n_post = sum(sub.column("n").to_pylist())
        for _ in range(3):
            with self.tracer.span("codec.decode_blocks"):
                t = time.perf_counter()
                for b in blobs:
                    decode_blocks(b)
                self.sample("codec.decode_postings_per_s", n_post / (time.perf_counter() - t))
        self.layer_counts = {
            "build.files": (len(files), "count"),
            "build.bytes_per_posting": (
                sum(os.path.getsize(f) for f in files) / meta["n_postings"], "B"),
            "build.n_blocks": (sum(r["n_blocks"] for r in rows), "count"),
            "build.n_postings": (meta["n_postings"], "count"),
            "lineage.batches": (len(rows), "count"),
        }
        self.phase("probes")

    # -- results --------------------------------------------------------------

    def op(self, seconds: float) -> None:
        self.op_ms.append(1000 * seconds)

    def end_to_end(self, items: float, timed_s: float, out: str) -> dict:
        done = [m for m in self.op_ms if m == m]  # NaN marks a failed operation
        return {
            "setup_s": (p50(self.samples["setup"]), "s"),
            "op_p50_ms": (p50(done), "ms"),
            "work_per_s": (items / timed_s, "1/s"),
            "index_bytes_per_input_byte": (
                lineage_mod.dir_bytes(out) / self.input_bytes(self.indexed), "ratio"),
        }

    def per_layer(self, session_start_s: float, op_type: str) -> dict:
        s = self.samples
        spark = self.counter.per_op(op_type)
        q_post = s["query.postings"]
        exe = s["query.execute"]
        out = {
            "session.start_s": (session_start_s, "s"),
            "corpus.scan_docs_per_s": (p50(s["corpus.scan_docs_per_s"]), "1/s"),
            "corpus.sha_violations": (self.info["sha_violations"], "count"),
            "tokenizer.postings_per_s": (p50(s["tokenizer.postings_per_s"]), "1/s"),
            "tokenizer.postings": (self.base_postings, "count"),
            "build.build_index_s": (s["build.build_index"][0], "s"),
            "build.extend_s": (p50(s["build.extend_index"]), "s"),
            "build.finalize_s": (p50(s["build.finalize"]), "s"),
            "lineage.read_ms": (1000 * p50(s["lineage.read"]), "ms"),
            "deletes.delete_s": (p50(s["deletes.delete_docs"]), "s"),
            "deletes.tombstones": (len(self.tombs), "count"),
            "query.open_ms": (1000 * p50(s["query.open"]), "ms"),
            "query.term_df_ms": (1000 * p50(s["query.term_df"]), "ms"),
            "query.plan_ms": (1000 * p50(s["query.plan"]), "ms"),
            "query.execute_ms": (1000 * p50(exe), "ms"),
            "query.postings_per_query": (statistics.fmean(q_post), "count"),
            "query.scored_postings_per_s": (sum(q_post) / sum(exe), "1/s"),
            "codec.decode_postings_per_s": (p50(s["codec.decode_postings_per_s"]), "1/s"),
            "spark.jobs_per_op": (spark["jobs"], "count"),
            "spark.stages_per_op": (spark["stages"], "count"),
            "spark.tasks_per_op": (spark["tasks"], "count"),
            "spark.failed_tasks": (self.counter.failed_tasks(), "count"),
            "trace.overhead_pct": (self.overhead_pct, "%"),
        }
        out.update(self.layer_counts)
        return out


# ---------------------------------------------------------------------------


def run_index(run: Run) -> tuple[dict, str, str]:
    """Timed: a bulk build of a three-segment base, then append steps of
    one segment each — extend_index, delete_docs on a few ids, a fresh
    InvertedIndex and its first bm25_topk. The first append takes the
    dictionary past the driver cache. Deleted ids come from that
    query's current top k. check_index runs after the build
    and after every extend, outside the timed calls. The schedule is fixed
    (not bounded by elapsed time) so that every run does equal work."""
    base = run.write_slice("index_base", 0, INDEX_BASE_DOCS)
    ends = [INDEX_BASE_DOCS + (i + 1) * SEGMENT for i in range(INDEX_STEPS)]
    slices = [run.write_slice(f"index_step{i}", hi - SEGMENT, hi)
              for i, hi in enumerate(ends)]
    out = os.path.join(run.work, "idx_index")
    run.await_oracle()  # no Python work beside the timed calls
    run.bulk_build(base, out, INDEX_BASE_DOCS)
    mix = QueryMix(run.oracle, INDEX_BASE_DOCS, corpusgen.KEYWORDS, run.rng)
    for i, (d, hi, (q, lang)) in enumerate(zip(slices, ends, mix.cycle(INDEX_STEPS))):
        run.tracer.op_id = f"step{i}"
        with run.tracer.span("op.append_step"), run.counter.op("append_step"):
            t_ext = run.extend(d, out, hi)
            t_del = run.delete(out, q, lang)
            with run.tracer.span("bench.check"):
                want = run.expected(q, lang)
            t_fresh = run.cold_open(out, q, lang, want, "fresh_query")
        run.check_built(out)
        run.check_uncached()
        # a fresh handle's first answer is this workload's cold serving open
        run.sample("setup", t_fresh)
        run.op(t_ext + t_del + t_fresh)
    run.tracer.op_id = None
    run.phase("loop")
    run.setup_reps(out, mix, SETUP_REPS - INDEX_STEPS)
    run.check_corpus()
    run.cross_check()
    if run.trace:
        run.measure_overhead(out, mix.cycle(OVERHEAD_PAIRS))
    timed_s = run.samples["build.build_index"][0] + sum(run.op_ms) / 1000
    return run.end_to_end(run.indexed, timed_s, out), "append_step", out


def run_search(run: Run) -> tuple[dict, str, str]:
    """Sequential bm25_topk calls, in a closed loop for ``--seconds`` (then
    to the end of the round of query classes in progress), on a
    prepared index whose dictionary is larger than the driver cache. The
    prepared bulk build is untimed and serves as the JVM warm-up, so a
    traced run's build.build_index_s is a cold-JVM build."""
    base = run.write_slice("search_base", 0, BASE_DOCS)
    out = os.path.join(run.work, "idx_search")
    run.bulk_build(base, out, BASE_DOCS)
    run.check_uncached()
    run.check_corpus()
    mix = QueryMix(run.oracle, BASE_DOCS, corpusgen.KEYWORDS, run.rng)
    run.setup_reps(out, mix, SETUP_REPS + 1, skip=1)
    pool = [(q, lang, run.expected(q, lang)) for q, lang in mix.cycle(QUERY_POOL)]
    ix = run.open_index(out)
    run.phase("pool")
    # whole rounds of the query classes, so every run has the same mix
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i % len(QUERY_CLASSES) or time.perf_counter() < t_end:
        q, lang, want = pool[i % len(pool)]
        run.tracer.op_id = f"query{i}"
        with run.tracer.span("op.query"):
            run.op(run.query(ix, q, lang, want))
        i += 1
    run.tracer.op_id = None
    run.phase("loop")
    run.cross_check()
    e2e = run.end_to_end(len(run.op_ms), sum(run.op_ms) / 1000, out)
    if run.trace:
        run.measure_overhead(out, [p[:2] for p in pool[:OVERHEAD_PAIRS]])
        # the extend and delete layers, measured on this workload too (a
        # short increment: this JVM has not warmed these calls), and a fresh
        # answer that needs the tombstones
        hi = BASE_DOCS + SEGMENT // 4
        run.extend(run.write_slice("search_tail", BASE_DOCS, hi), out, hi)
        run.check_built(out)
        q, lang, _ = pool[0]
        run.delete(out, q, lang)
        run.cold_open(out, q, lang, run.expected(q, lang), "fresh_query")
    return e2e, "query", out


# name: (corpus profile, workload, whether an untimed warm-up build comes first)
WORKLOADS = {"index": ("code-longtail", run_index, True),
             "search": ("code-longtail", run_search, False)}
