"""Correctness reference owned by the benchmark.

Every result the benchmark gets from the engine is checked here, against
numbers this file computes from the generated corpus alone. It imports
nothing from the package, so an edit to the package's own oracle cannot
move it.

Semantics:
- simple tokenizer: lowercase, split on ``[ \\t\\n\\x0b\\f\\r]+``, drop empties;
- BM25 with k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5)), the
  query's terms deduplicated, documents matching no query term unranked;
- ranking by round(score x 10^4) descending (half up), then doc_id ascending;
- filtered top-k ranks only documents holding every ``must`` term and no
  ``must_not`` term;
- phrase matches count overlapping occurrences of consecutive tokens.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75
_SPLIT = re.compile("[ \t\n\x0b\f\r]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def quantize(score):
    """round(score x 10^4) with halves rounded up, as Spark's ``round``."""
    return np.floor(np.asarray(score, dtype=np.float64) * 10000.0 + 0.5).astype(np.int64)


class Reference:
    """Exact answers over one corpus: CSR postings (term -> doc rows, tf),
    document lengths and the flat token stream for phrase counts."""

    def __init__(self, doc_ids, contents):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.contents = list(contents)
        self.n_docs = len(self.contents)
        toks = [tokenize(c) for c in self.contents]
        self.doc_len = np.array([len(t) for t in toks], dtype=np.int64)
        flat = [t for ts in toks for t in ts]
        codes, uniques = pd.factorize(pd.Series(flat, dtype=object))
        self.terms = {t: i for i, t in enumerate(uniques)}
        self.token_ids = codes.astype(np.int64)
        self.token_doc = np.repeat(np.arange(self.n_docs, dtype=np.int64), self.doc_len)
        key = self.token_ids * self.n_docs + self.token_doc
        pairs, tf = np.unique(key, return_counts=True)
        self.post_term = pairs // self.n_docs
        self.post_doc = pairs % self.n_docs
        self.post_tf = tf.astype(np.int64)
        self.term_ptr = np.searchsorted(self.post_term, np.arange(len(uniques) + 1))
        self.avgdl = float(self.doc_len.sum()) / self.n_docs
        self._row = {int(d): i for i, d in enumerate(self.doc_ids)}

    def _postings(self, term: str):
        t = self.terms.get(term)
        if t is None:
            return None
        lo, hi = self.term_ptr[t], self.term_ptr[t + 1]
        return self.post_doc[lo:hi], self.post_tf[lo:hi]

    def scores(self, query: str) -> tuple[np.ndarray, np.ndarray]:
        """(rows, score) of every document matching at least one query term."""
        acc = np.zeros(self.n_docs, dtype=np.float64)
        hit = np.zeros(self.n_docs, dtype=bool)
        for term in sorted(set(tokenize(query))):
            p = self._postings(term)
            if p is None:
                continue
            rows, tf = p
            df = rows.size
            idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            tff = tf.astype(np.float64)
            dl = self.doc_len[rows].astype(np.float64)
            acc[rows] += idf * (tff / (tff + K1 * (1.0 - B + B * dl / self.avgdl)))
            hit[rows] = True
        rows = np.flatnonzero(hit)
        return rows, acc[rows]

    def _docs_with(self, term: str) -> np.ndarray:
        p = self._postings(term)
        return np.zeros(0, dtype=np.int64) if p is None else p[0]

    def allowed(self, must: list[str], must_not: list[str]) -> np.ndarray:
        """Boolean mask over rows: every ``must`` term and no ``must_not``."""
        ok = np.ones(self.n_docs, dtype=bool)
        for t in must:
            m = np.zeros(self.n_docs, dtype=bool)
            m[self._docs_with(t)] = True
            ok &= m
        for t in must_not:
            ok[self._docs_with(t)] = False
        return ok

    def ranked(self, query: str, must=None, must_not=None):
        """Every matching (optionally filtered) document, in reference rank
        order: (doc_ids, quantized scores, raw scores)."""
        rows, sc = self.scores(query)
        if must is not None or must_not is not None:
            keep = self.allowed(must or [], must_not or [])[rows]
            rows, sc = rows[keep], sc[keep]
        ids = self.doc_ids[rows]
        q = quantize(sc)
        order = np.lexsort((ids, -q))
        return ids[order], q[order], sc[order]

    def phrase(self, phrase: list[str]) -> dict[int, int]:
        """doc_id -> overlapping occurrence count of the consecutive tokens."""
        codes = [self.terms.get(t) for t in phrase]
        if any(c is None for c in codes):
            return {}
        n = len(codes)
        span = self.token_ids.size - n + 1
        if span <= 0:
            return {}
        ok = np.ones(span, dtype=bool)
        for j, c in enumerate(codes):
            ok &= self.token_ids[j : j + span] == c
        ok &= self.token_doc[:span] == self.token_doc[n - 1 : n - 1 + span]
        docs, counts = np.unique(self.token_doc[:span][ok], return_counts=True)
        return {int(self.doc_ids[d]): int(c) for d, c in zip(docs, counts)}

    def content(self, doc_id: int) -> str | None:
        row = self._row.get(int(doc_id))
        return None if row is None else self.contents[row]


def check_ranked(ref: Reference, query: str, got, k: int, must=None, must_not=None, exact_ties=False) -> str | None:
    """None when ``got`` (a list of (doc_id, score) in engine rank order) is
    a correct top-k for ``query``; otherwise a one-line reason.

    The engine's unfiltered ``search`` orders by raw score, so documents
    whose scores differ by less than one 10^-4 quantum may come in either
    order, and at the k cut any of the tied documents is a valid pick.
    ``exact_ties=True`` (filtered top-k, which cuts by the quantized score
    and doc_id exactly) demands the reference's order document for document.
    """
    ids, q, raw = ref.ranked(query, must, must_not)
    want = min(k, ids.size)
    if len(got) != want:
        return f"{len(got)} rows, expected {want}"
    if not want:
        return None
    score_of = dict(zip(ids.tolist(), raw.tolist()))
    got_ids = [int(d) for d, _ in got]
    if len(set(got_ids)) != want:
        return "duplicate doc_id"
    for d, s in got:
        r = score_of.get(int(d))
        if r is None:
            return f"doc {d} does not qualify"
        if abs(float(s) - r) > 1e-9 * max(1.0, abs(r)):
            return f"doc {d} score {s!r} != {r!r}"
    got_q = quantize([score_of[d] for d in got_ids])
    if np.any(np.diff(got_q) > 0):
        return "rank order not by score"
    if exact_ties:
        return None if got_ids == ids[:want].tolist() else "rank order differs"
    if not np.array_equal(np.sort(got_q)[::-1], q[:want]):
        return "quantized score sequence differs"
    canon = sorted(zip((-got_q).tolist(), got_ids))
    edge = q[want - 1]
    inner = [d for nq, d in canon if -nq > edge]
    if inner != ids[q > edge][: len(inner)].tolist():
        return "top-k differs above the cut"
    return None


def check_phrase(ref: Reference, phrase: list[str], got: dict[int, int]) -> str | None:
    want = ref.phrase(phrase)
    if got == want:
        return None
    return f"{len(got)} docs, expected {len(want)}"


def check_content(ref: Reference, rows) -> str | None:
    """Every (doc_id, content) row of a join-back carries the corpus text."""
    for d, c in rows:
        if c != ref.content(d):
            return f"content differs for doc {d}"
    return None


def _table(path: str, columns: list[str]) -> pd.DataFrame:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def check_index(ref: Reference, path: str) -> str | None:
    """The written index directory, read with pyarrow, against the corpus:
    corpus and per-document stats, every term's df, and every term's
    posting and positional block doc counts."""
    bad = []
    cs = _table(os.path.join(path, "corpus_stats"), ["n_docs", "avgdl"])
    if cs["n_docs"].tolist() != [ref.n_docs]:
        bad.append(f"n_docs {cs['n_docs'].tolist()}")
    elif abs(cs["avgdl"].iat[0] - ref.avgdl) > 1e-9 * ref.avgdl:
        bad.append(f"avgdl {cs['avgdl'].iat[0]!r} != {ref.avgdl!r}")
    dstats = _table(os.path.join(path, "doc_stats"), ["doc_id", "doc_len", "sha256"])
    want = pd.DataFrame({
        "doc_id": ref.doc_ids,
        "doc_len": ref.doc_len,
        "sha256": [hashlib.sha256(c.encode("utf-8")).hexdigest() for c in ref.contents],
    })
    got = dstats.sort_values("doc_id").reset_index(drop=True)
    if not got.equals(want.sort_values("doc_id").reset_index(drop=True)):
        bad.append("doc_stats differ")
    df = pd.Series(np.diff(ref.term_ptr), index=list(ref.terms), name="df").sort_index()
    for table, cols in (("term_stats", ["term", "df"]), ("posting_blocks", ["term", "n"]),
                        ("positional_blocks", ["term", "n"])):
        t = _table(os.path.join(path, table), cols)
        per_term = t.groupby("term")[cols[1]].sum().sort_index()
        if not (per_term.index.equals(df.index) and np.array_equal(per_term.to_numpy(), df.to_numpy())):
            bad.append(f"{table} per-term counts differ")
    return "; ".join(bad) or None
