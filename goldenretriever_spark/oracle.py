"""Single-node pure-Python BM25 oracle — the semantics anchor.

Plays the role the reference's exact brute-force ``make_query`` plays for its
ANN index (/root/reference/src/models.py:114-149: score every doc, sort desc,
take k): every Spark query path (brute force and block-max WAND) must return
rank-identical (doc_id, score) against this oracle.

Semantics (fixed, mirrored by query/bm25.py and the DuckDB oracle SQL):
- BM25 with k1=1.2, b=0.75 (the ES/Lucene default similarity that the
  reference's ES ``Text`` fields imply,
  /root/reference/src/elasticsearch/create_doc_index.py:52-65)
- idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
- tfnorm(t,d) = tf / (tf + k1 * (1 - b + b * dl/avgdl))
- score(q,d)  = Σ_{t ∈ unique(q)} idf(t) * tfnorm(t,d)   (query terms deduped)
- float64 throughout; per-(term,doc) contribution computed as ONE expression
  from integer tf/df/dl (no partial float sums across partitions), so Spark
  and the oracle see identical rounding behavior
- ties broken by ascending doc_id — the rank-identity determinism rule
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from dataclasses import dataclass, field

import re

from goldenretriever_spark.tokenizer import SIMPLE_SPLIT_RE, code_tokenize_text

K1 = 1.2
B = 0.75

_SIMPLE_SPLIT = re.compile(SIMPLE_SPLIT_RE)


def simple_tokenize_text(text: str) -> list[str]:
    """Oracle twin of tokenizer.simple_tokens (lower + ASCII-whitespace
    split). Uses the engine's explicit whitespace class, NOT str.split():
    str.split() also splits on Unicode whitespace (NBSP, \\u2028) where the
    engine's Java regex does not — they must agree on every input."""
    if text is None:
        return []
    return [t for t in _SIMPLE_SPLIT.split(text.lower()) if t]


def tokenize(text: str, tokenizer: str = "simple") -> list[str]:
    if tokenizer == "simple":
        return simple_tokenize_text(text)
    if tokenizer == "code":
        return code_tokenize_text(text)
    raise ValueError(f"unknown tokenizer: {tokenizer!r}")


@dataclass
class OracleIndex:
    n_docs: int = 0
    avgdl: float = 0.0
    doc_len: dict[int, int] = field(default_factory=dict)
    sha256: dict[int, str] = field(default_factory=dict)
    postings: dict[str, dict[int, int]] = field(default_factory=dict)  # term -> {doc_id: tf}

    def df(self, term: str) -> int:
        return len(self.postings.get(term, {}))


def build_oracle_index(docs: list[tuple[int, str]], tokenizer: str = "simple") -> OracleIndex:
    """docs: list of (doc_id, content)."""
    idx = OracleIndex()
    total_len = 0
    for doc_id, content in docs:
        toks = tokenize(content, tokenizer)
        idx.doc_len[doc_id] = len(toks)
        idx.sha256[doc_id] = hashlib.sha256(content.encode("utf-8")).hexdigest()
        total_len += len(toks)
        for term, tf in Counter(toks).items():
            idx.postings.setdefault(term, {})[doc_id] = tf
    idx.n_docs = len(docs)
    idx.avgdl = total_len / idx.n_docs if idx.n_docs else 0.0
    return idx


def bm25_score(idx: OracleIndex, query: str, doc_id: int, tokenizer: str = "simple") -> float:
    score = 0.0
    dl = idx.doc_len.get(doc_id, 0)
    for term in sorted(set(tokenize(query, tokenizer))):
        plist = idx.postings.get(term)
        if not plist or doc_id not in plist:
            continue
        tf = plist[doc_id]
        dfreq = len(plist)
        idf = math.log(1.0 + (idx.n_docs - dfreq + 0.5) / (dfreq + 0.5))
        score += idf * (tf / (tf + K1 * (1.0 - B + B * dl / idx.avgdl)))
    return score


def top_k(idx: OracleIndex, query: str, k: int = 10, tokenizer: str = "simple") -> list[tuple[int, float]]:
    """Exact top-k: (doc_id, score) desc score, ties asc doc_id; docs with
    zero matching terms are excluded (score 0 rows never rank)."""
    terms = sorted(set(tokenize(query, tokenizer)))
    candidates: set[int] = set()
    for t in terms:
        candidates.update(idx.postings.get(t, {}).keys())
    scored = [(d, bm25_score(idx, query, d, tokenizer)) for d in candidates]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:k]


def phrase_ranked_top_k(
    idx: OracleIndex,
    tokens: dict[int, list[str]],
    phrase: list[str],
    k: int = 10,
    boost: float = 1.0,
) -> list[tuple[int, int, int]]:
    """Exact phrase-boosted top-k (query/phrase.phrase_ranked_topk_stored):
    BM25 over the phrase's terms plus ``boost * ln(1 + occ)``, occ the
    overlapping exact occurrences of ``phrase`` in the doc's ``tokens``;
    (rank, doc_id, score x10000 rounded), desc score, ties asc doc_id."""
    n = len(phrase)
    candidates: set[int] = set()
    for t in set(phrase):
        candidates.update(idx.postings.get(t, {}).keys())
    scored = []
    for d in candidates:
        tk = tokens[d]
        occ = sum(1 for s in range(len(tk) - n + 1) if tk[s:s + n] == phrase)
        s = bm25_score(idx, " ".join(phrase), d) + boost * math.log(1 + occ)
        scored.append((d, round(s * 10000)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, sq) for i, (d, sq) in enumerate(scored[:k])]
