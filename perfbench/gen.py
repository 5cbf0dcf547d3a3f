"""Seeded, vectorized input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, as a pure
function of ``(seed, n_docs)``: the corpus, the queries, the boolean
filters and the phrases. The vocabulary lives in this file, not in the
package, so package edits cannot change the inputs.

Corpus rows have the ``input_hint`` shape plus an explicit ``doc_id``::

    (doc_id long, repo, path, commit, lang, content string)

Content is source-code-like: Zipfian language keywords (``def``, ``return``
and ``import`` appear in nearly every document, the skew the salted block
packing handles), identifiers drawn Zipfian from a per-seed vocabulary
(mid and rare terms), string literals, ``#`` comments and numbers.
Tokens are drawn with whole-array numpy; only the final per-document join
is a Python loop.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

KEYWORDS = [
    "def", "return", "import", "class", "if", "else", "for", "while", "try",
    "except", "lambda", "yield", "public", "static", "void", "final", "func",
    "var", "val", "let", "const", "interface", "struct", "package", "match",
    "case", "object", "trait", "async", "await", "raise", "with", "elif",
]
STEMS = [
    "user", "query", "index", "token", "score", "batch", "merge", "shard",
    "block", "posting", "doc", "term", "cache", "buffer", "stream", "vector",
    "handler", "service", "client", "config", "parser", "writer", "reader",
    "graph", "node", "edge", "hash", "sketch", "filter", "window", "offset",
    "route", "table", "frame", "queue", "lock", "event", "state", "codec",
]
COMMENT_WORDS = [
    "todo", "fixme", "note", "returns", "the", "a", "and", "computes",
    "deprecated", "thread", "safe", "naive", "approximation", "café", "résumé",
]
LANGS = np.array(["python", "java", "scala", "go", "js"])
LANG_EXT = np.array(["py", "java", "scala", "go", "js"])
LANG_P = [0.45, 0.2, 0.15, 0.1, 0.1]

N_IDENTS = 20_000
MIN_TOKENS, MAX_TOKENS = 20, 80

FILTER_MUST = KEYWORDS[:3]
# serve_interactive's 3:1:1 call mix, two searches first so that even a
# short window has a search median
PATTERN = ("search", "search", "filtered", "search", "phrase")


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def identifiers(seed: int) -> np.ndarray:
    """Per-seed identifier vocabulary: snake_case or camelCase stem pairs,
    most with a numeric suffix so the vocabulary reaches N_IDENTS terms."""
    rng = np.random.default_rng([seed, 1])
    stems = np.array(STEMS)
    a = stems[rng.integers(0, len(stems), N_IDENTS * 2)]
    b = stems[rng.integers(0, len(stems), N_IDENTS * 2)]
    suffix = rng.integers(0, 1000, N_IDENTS * 2)
    camel = rng.random(N_IDENTS * 2) < 0.5
    names = [
        (f"{x}{y.capitalize()}" if c else f"{x}_{y}") + (str(n) if n >= 100 else "")
        for x, y, n, c in zip(a, b, suffix, camel)
    ]
    return np.array(list(dict.fromkeys(names))[:N_IDENTS])


def _vocabulary(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(vocab, p): one token table mixing every token class, with the
    per-token draw probability. Classes: keywords 45%, identifiers 30%,
    string literals 10%, comments 10%, numbers 5%."""
    idents = identifiers(seed)
    literals = np.array([f'"{s}"' for s in STEMS])
    comments = np.array([f"# {w}" for w in COMMENT_WORDS])
    numbers = np.array([str(i) for i in range(2000)])
    parts = [
        (np.array(KEYWORDS), 0.45 * _zipf(len(KEYWORDS), 1.1)),
        (idents, 0.30 * _zipf(len(idents), 1.0)),
        (literals, 0.10 * np.full(len(literals), 1 / len(literals))),
        (comments, 0.10 * np.full(len(comments), 1 / len(comments))),
        (numbers, 0.05 * np.full(len(numbers), 1 / len(numbers))),
    ]
    vocab = np.concatenate([v for v, _ in parts]).astype(object)
    p = np.concatenate([w for _, w in parts])
    return vocab, p / p.sum()


def make_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """The seeded corpus as a pandas frame (doc_id, repo, path, commit,
    lang, content). doc_ids are distinct signed 63-bit values."""
    rng = np.random.default_rng([seed, 0])
    vocab, p = _vocabulary(seed)
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS, n_docs)
    toks = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=p)]
    newline = rng.random(toks.size) < 0.12
    toks = np.where(newline, toks + "\n", toks + " ")
    ends = np.cumsum(lens)
    content = ["".join(toks[e - n : e]).rstrip(" ") for e, n in zip(ends, lens)]

    ids = rng.integers(-(2**62), 2**62, n_docs, dtype=np.int64)
    while np.unique(ids).size != n_docs:
        ids = rng.integers(-(2**62), 2**62, n_docs, dtype=np.int64)
    li = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    i = np.arange(n_docs)
    stem = np.array(STEMS)[i % len(STEMS)]
    commits = rng.integers(0, 16, (n_docs, 40))
    hexd = np.array(list("0123456789abcdef"))
    return pd.DataFrame(
        {
            "doc_id": ids,
            "repo": [f"org{j % 20}/proj{j % 97}" for j in i],
            "path": [f"src/{s}/mod{j}.{e}" for s, j, e in zip(stem, i, LANG_EXT[li])],
            "commit": ["".join(r) for r in hexd[commits]],
            "lang": LANGS[li],
            "content": content,
        }
    )


def corpus_parquet(seed: int, n_docs: int, cache_dir: str) -> str:
    """Write (once per (seed, n_docs)) the corpus to ``cache_dir`` and
    return its path. Only inputs are cached; indexes never are."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"corpus_s{seed}_n{n_docs}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(
            pa.Table.from_pandas(make_corpus(seed, n_docs), preserve_index=False),
            tmp,
            row_group_size=8192,
        )
        os.replace(tmp, path)
    return path


def interactive_ops(seed: int, n_ops: int, corpus: pd.DataFrame) -> list[tuple]:
    """The serve_interactive call sequence: ``PATTERN`` repeated, each call
    ``("search", query)``, ``("filtered", query, must, must_not)`` or
    ``("phrase", [t1, t2])``. Query terms are 1-3 mid or rare identifiers
    from a 300-term pool reused across calls; filters keep documents with a
    hot keyword and drop those with a mid keyword. Phrases are adjacent
    token pairs taken from corpus documents, so each has a match."""
    rng = np.random.default_rng([seed, 3])
    idents = identifiers(seed)
    pool = [t.lower() for t in idents[rng.choice(np.arange(50, len(idents)), 300, replace=False)]]
    ops: list[tuple] = []
    for i in range(n_ops):
        kind = PATTERN[i % len(PATTERN)]
        if kind == "phrase":
            ops.append(("phrase", _phrase(rng, corpus)))
            continue
        n = int(rng.integers(1, 4))
        q = " ".join(pool[j] for j in rng.choice(len(pool), n, replace=False))
        if kind == "search":
            ops.append(("search", q))
        else:
            must = [FILTER_MUST[int(rng.integers(0, len(FILTER_MUST)))]]
            must_not = [KEYWORDS[int(rng.integers(6, 12))]]
            ops.append(("filtered", q, must, must_not))
    return ops


def _phrase(rng: np.random.Generator, corpus: pd.DataFrame) -> list[str]:
    """Two adjacent simple-tokenizer tokens from a random document: not
    two keywords and no comment marker, so the phrase is mid or rare."""
    from perfbench.reference import tokenize

    kw = set(KEYWORDS)
    while True:
        toks = tokenize(corpus["content"].iat[int(rng.integers(0, len(corpus)))])
        starts = [
            i for i in range(len(toks) - 1)
            if not (toks[i] in kw and toks[i + 1] in kw)
            and toks[i] != "#" and toks[i + 1] != "#"
        ]
        if starts:
            i = starts[int(rng.integers(0, len(starts)))]
            return [toks[i], toks[i + 1]]
