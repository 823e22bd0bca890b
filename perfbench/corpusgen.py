"""Seeded generator of source-code-shaped corpora in the
``documents.parquet`` schema ``(doc_id, text, lang, source, n_chars)`` that
``corpus.load_corpus`` reads.

A document is a run of code lines over three token populations:

- per-language keywords (``def``/``fn``/``func`` ...): a handful of very hot
  terms, each confined to one language;
- identifiers drawn from a Zipf-distributed vocabulary, written as
  snake_case or camelCase compounds (the tokenizer splits both into the
  vocabulary words), so a few words are hot and most are mid-frequency;
- literal tail tokens (hex hashes / numeric literals) that are unique to
  one document — the long tail that makes the term dictionary grow with
  the corpus rather than with the vocabulary.

Profiles size the dictionary against ``InvertedIndex.DICT_CACHE_MAX_TERMS``:
``code-small`` stays well under it (every dictionary lookup hits the driver
cache), ``code-longtail`` lands above it (every lookup reads the parquet
dictionary). The same seed always yields the same rows.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYWORDS = {
    "py": ["def", "return", "import", "from", "class", "self", "if", "elif",
           "else", "for", "in", "while", "none", "true", "false", "with",
           "as", "try", "except", "lambda", "yield", "pass", "raise"],
    "js": ["function", "const", "let", "var", "return", "this", "new", "if",
           "else", "for", "of", "await", "async", "null", "undefined",
           "export", "import", "class", "typeof", "throw", "catch"],
    "go": ["func", "package", "import", "return", "err", "nil", "if", "for",
           "range", "struct", "type", "var", "defer", "go", "chan", "map",
           "interface", "select", "case", "switch", "break"],
    "java": ["public", "private", "static", "void", "class", "new", "return",
             "final", "int", "string", "this", "import", "null", "extends",
             "implements", "throws", "try", "catch", "protected", "override"],
    "rs": ["fn", "let", "mut", "impl", "pub", "struct", "enum", "match",
           "use", "return", "self", "some", "none", "ok", "err", "unwrap",
           "crate", "mod", "trait", "where", "async"],
}
LANGS = sorted(KEYWORDS)

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "pl",
           "pr", "sh", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "", "n", "r", "s", "t", "x", "ck", "ng", "st"]


@dataclasses.dataclass(frozen=True)
class Profile:
    name: str
    n_docs: int
    n_idents: int          # Zipf identifier vocabulary size
    zipf_a: float          # Zipf exponent of identifier word draws
    idents_per_doc: int    # distinct compound identifiers a file declares
    lines_per_doc: int     # mean lines per document (Poisson)
    tail_per_doc: int      # unique literal tokens per document
    n_repos: int


# code-longtail is sized against a measured source-code corpus whose 8.7M
# tokens held 603k (lang, term) dictionary entries, about 14 tokens per
# entry. A file reuses its own identifiers on ~120 lines, so most postings
# have tf > 1; unique literals are 6% of the tokens and about half of the
# dictionary. It lands at about 8 tokens per entry over 526k entries: the
# measured 14 would take 7.4M tokens per build, and the benchmark's run
# budget holds about 4.2M.
PROFILES = {
    "code-small": Profile("code-small", n_docs=6144, n_idents=4000,
                          zipf_a=1.15, idents_per_doc=24, lines_per_doc=14,
                          tail_per_doc=1, n_repos=64),
    "code-longtail": Profile("code-longtail", n_docs=5120, n_idents=300000,
                             zipf_a=0.9, idents_per_doc=128, lines_per_doc=120,
                             tail_per_doc=60, n_repos=256),
}


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words (2-3 syllables), none of
    them a keyword."""
    reserved = {k for ks in KEYWORDS.values() for k in ks}
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = 4 * (n - len(words)) + 64
        n_syl = rng.integers(2, 4, size=m)
        on = rng.integers(0, len(_ONSETS), size=(m, 3))
        vo = rng.integers(0, len(_VOWELS), size=(m, 3))
        co = rng.integers(0, len(_CODAS), size=m)
        for i in range(m):
            w = "".join(_ONSETS[on[i, j]] + _VOWELS[vo[i, j]]
                        for j in range(n_syl[i])) + _CODAS[co[i]]
            if w not in seen and w not in reserved:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _zipf_ranks(rng: np.random.Generator, n: int, a: float, size: int) -> np.ndarray:
    """Ranks in [0, n) with P(r) proportional to 1 / (r + 1)^a."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def generate(profile: Profile, seed: int) -> dict:
    """Rows of the documents schema, as column lists, plus the generator's
    own parameters. Pure function of ``(profile, seed)``."""
    rng = np.random.default_rng([seed, sum(map(ord, profile.name))])
    vocab = _vocabulary(rng, profile.n_idents)
    n, per = profile.n_docs, profile.idents_per_doc
    langs = rng.integers(0, len(LANGS), size=n)
    repos = rng.integers(0, profile.n_repos, size=n)
    # each file declares ``per`` identifiers, compounds of 1-3 Zipf words
    n_words = rng.integers(1, 4, size=n * per)
    words = _zipf_ranks(rng, profile.n_idents, profile.zipf_a, int(n_words.sum()))
    camel = rng.random(n * per) < 0.4
    bounds = np.concatenate([[0], np.cumsum(n_words)]).tolist()
    idents = []
    for j in range(n * per):
        parts = [vocab[r] for r in words[bounds[j]:bounds[j + 1]]]
        if camel[j]:
            idents.append(parts[0] + "".join(p.capitalize() for p in parts[1:]))
        else:
            idents.append("_".join(parts))
    # lines use the file's own identifiers, a few of them far more often
    n_lines = np.maximum(2, rng.poisson(profile.lines_per_doc, size=n))
    n_all = int(n_lines.sum())
    line_doc = np.repeat(np.arange(n), n_lines)
    slot = (line_doc[:, None] * per
            + _zipf_ranks(rng, per, 1.0, 3 * n_all).reshape(n_all, 3))
    id1, id2, id3 = (np.asarray(idents, dtype=object)[slot[:, c]].tolist()
                     for c in range(3))
    # keywords are drawn per line from the document's language
    kw_tables = [np.asarray(KEYWORDS[lang], dtype=object) for lang in LANGS]
    line_lang = langs[line_doc]
    kw = [np.empty(n_all, dtype=object) for _ in range(2)]
    for li, table in enumerate(kw_tables):
        m = line_lang == li
        for col in kw:
            col[m] = table[rng.integers(0, len(table), size=int(m.sum()))]
    # unique literal tokens, each placed on a random line of its document
    n_tail = profile.tail_per_doc * n
    tail = rng.integers(0, 1 << 40, size=n_tail)
    line_start = np.concatenate([[0], np.cumsum(n_lines)[:-1]])
    tail_line = (np.repeat(line_start, profile.tail_per_doc)
                 + (rng.random(n_tail) * np.repeat(n_lines, profile.tail_per_doc))
                 .astype(np.int64))
    args = id3
    for t, ln in zip(tail.tolist(), tail_line.tolist()):
        args[ln] = f"{args[ln]}, 0x{t:010x}"
    lines = [f"{a} {b} = {c}({d}) {e}"
             for a, b, c, d, e in zip(kw[0].tolist(), id1, id2, args, kw[1].tolist())]
    ends = np.cumsum(n_lines).tolist()
    starts = [0, *ends[:-1]]
    texts = ["\n".join(lines[a:b]) for a, b in zip(starts, ends)]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"repo{int(r)}" for r in repos],
        "n_chars": [len(t) for t in texts],
        "params": {**dataclasses.asdict(profile), "seed": seed,
                   "tail_tokens": n_tail},
    }


def write_parquet(rows: dict, path: str, lo: int = 0, hi: int | None = None) -> None:
    """Write docs ``[lo, hi)`` to ``path`` as ``documents.parquet``."""
    sl = slice(lo, hi)
    table = pa.table({
        "doc_id": pa.array(rows["doc_id"][sl], pa.int64()),
        "text": pa.array(rows["text"][sl], pa.string()),
        "lang": pa.array(rows["lang"][sl], pa.string()),
        "source": pa.array(rows["source"][sl], pa.string()),
        "n_chars": pa.array(rows["n_chars"][sl], pa.int64()),
    })
    pq.write_table(table, path)
