"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship BM25 top-k over the sf0.001 documents corpus.
queries()     -> one entry per implemented operator (SURVEY.md §2).
oracle_sql()  -> DuckDB twins over the pre-registered parquet views.

Float discipline for oracle comparison: BM25 scores are quantized to
score_q = CAST(round(score * 10000) AS BIGINT) in BOTH engines and ranking
uses the quantized score with asc(doc_id) tie-break, so the value-hash
compares integers, never raw doubles.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"

# the flagship query batch run against the driver documents corpus
FLAGSHIP_QUERIES: list[tuple[int, str]] = [
    (0, "fast merge sort"),
    (1, "window scan"),
    (2, "spark stream batch join"),
    (3, "the"),
    (4, "vector customer value"),
    (5, "zzzmissing fast"),
]

K = 10


def _result_scratch(name: str) -> str:
    """Per-invocation scratch parquet path for streaming results that must
    outlive their streaming checkpoint dir. mkdtemp-scoped (ADVICE r3):
    fixed /tmp filenames let two concurrent driver runs overwrite each
    other's output mid-read; a fresh tempdir per call cannot collide. The
    dir is small (one re-materialized result) and left for /tmp cleanup."""
    import tempfile

    return os.path.join(tempfile.mkdtemp(prefix=f"gr_entry_{name}_"), "out.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goldenretriever_spark.corpus import driver_documents

    return driver_documents(spark, sf_dir)


def _bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query over documents, quantized scores (SURVEY §2 J5,
    A7-A8, W1-W3, F8 in one plan)."""
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.query.wand import rank_top_k

    docs = _documents(spark, sf_dir)
    idx = build_index(docs, tokenizer="simple")
    terms = bm25.query_terms_df(spark, FLAGSHIP_QUERIES, tokenizer="simple")
    scores = bm25.score_candidates(idx, terms)
    return _score_q(rank_top_k(scores, K, quantize=True))


def _score_q(ranked: DataFrame) -> DataFrame:
    """An engine top-k cut at the quantized tie discipline (query_id, doc_id,
    score, rank) -> the contract's (query_id, doc_id, score_q, rank)."""
    return ranked.select(
        "query_id",
        "doc_id",
        F.round(F.col("score") * 10000).cast("long").alias("score_q"),
        "rank",
    )


def _bm25_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND top-k over the COMPRESSED stored-index path (SURVEY
    §2.5 W1-W3 on the pruned engine): same oracle as bm25_topk because
    θ-pruning is lossless (Ding & Suel 2011; tests/test_wand.py). The
    engine cuts at the quantized score (``quantize=True``), so the tie
    discipline matches the oracle exactly."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.wand import wand_top_k

    docs = _documents(spark, sf_dir)
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    ranked = wand_top_k(spark, blocks, idx.corpus_stats, FLAGSHIP_QUERIES, k=K, quantize=True)
    return _score_q(to_doc_ids(ranked, idx.doc_stats))


def _hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (beyond-parity; reference serves BM25 and Annoy
    cosine as separate endpoints, models.py make_query): fuse the BM25
    lexical top-10 with the brute-cosine vector top-10 over the shared
    doc_id/vec_id space by reciprocal-rank fusion (Cormack et al., SIGIR
    2009). Query ids align by construction: FLAGSHIP_QUERIES are 0..5 and
    the vector leg queries with the first 6 embeddings by vec_id."""
    from goldenretriever_spark.operators import ann
    from goldenretriever_spark.query.hybrid import rrf_fuse

    lex = _bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rank")
    vec = ann.q_ann_brute_topk(spark, sf_dir, k=K, n_queries=6).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    return rrf_fuse([lex, vec], k=K)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _bm25_topk(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL building blocks (documents view: doc_id, text, lang,
# source, n_chars — the simple tokenizer is lower + whitespace split).
# ---------------------------------------------------------------------------

# whitespace class comes from the engine tokenizer (NOT '\s+': RE2's \s
# excludes \x0b, DuckDB's includes it — SIMPLE_SPLIT_SQL is the shared truth)
from goldenretriever_spark.tokenizer import SIMPLE_SPLIT_SQL as _WS

_TOKS_CTE = rf"""
toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(trim(text)), '{_WS}')) AS t(term)
  WHERE t.term <> ''
),
postings AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY term, doc_id
),
doc_stats AS (
  SELECT doc_id, count(*)::BIGINT AS doc_len FROM toks GROUP BY doc_id
),
corpus AS (
  SELECT count(*)::BIGINT AS n_docs, avg(doc_len) AS avgdl FROM doc_stats
),
term_stats AS (
  SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term
)
"""


def _queries_values_sql() -> str:
    """FLAGSHIP_QUERIES tokenized to unique (query_id, term) VALUES rows —
    mirrors bm25.query_terms_df exactly."""
    from goldenretriever_spark.oracle import simple_tokenize_text

    rows = []
    for qid, qstr in FLAGSHIP_QUERIES:
        for term in sorted(set(simple_tokenize_text(qstr))):
            rows.append(f"({qid}, '{term}')")
    return ", ".join(rows)


def _bm25_topk_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
qterms(query_id, term) AS (VALUES {_queries_values_sql()}),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum( ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
            * (p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.doc_len / c.avgdl))) ) AS score
  FROM qterms q
  JOIN postings p USING (term)
  JOIN term_stats t ON p.term = t.term
  JOIN doc_stats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  GROUP BY q.query_id, p.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(round(score * 10000) AS BIGINT) AS score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(round(score * 10000) AS BIGINT) DESC, doc_id ASC
         ) AS rank
  FROM scored
)
SELECT query_id, doc_id, score_q, rank FROM ranked WHERE rank <= {K}
"""


def _hybrid_rrf_sql() -> str:
    """DuckDB twin of _hybrid_rrf_topk: BM25 lexical top-10 UNION ALL brute
    cosine top-10 (first 6 embeddings as queries, vec_id aliased to doc_id),
    1/(60+rank) summed per (query_id, doc_id), quantized x1e7. A doc appears
    in at most 2 legs so the double sum is order-independent (commutativity
    of 2-operand addition) — bit-identical to Spark's aggregate."""
    from goldenretriever_spark.query.hybrid import RRF_K0, RRF_QUANT

    cos = (
        "CAST(round(list_dot_product(vq.qvec, e.embedding)"
        " / (sqrt(list_dot_product(vq.qvec, vq.qvec))"
        " * sqrt(list_dot_product(e.embedding, e.embedding))) * 10000) AS BIGINT)"
    )
    return f"""
WITH {_TOKS_CTE},
qterms(query_id, term) AS (VALUES {_queries_values_sql()}),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum( ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
            * (p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.doc_len / c.avgdl))) ) AS score
  FROM qterms q
  JOIN postings p USING (term)
  JOIN term_stats t ON p.term = t.term
  JOIN doc_stats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  GROUP BY q.query_id, p.doc_id
),
lex AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY CAST(round(score * 10000) AS BIGINT) DESC, doc_id ASC
           ) AS rank
    FROM scored) WHERE rank <= {K}
),
vq AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 6),
vscored AS (SELECT vq.query_id, e.vec_id, {cos} AS cosine_q FROM vq CROSS JOIN embeddings e),
vec AS (
  SELECT query_id, vec_id AS doc_id, rnk AS rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_q DESC, vec_id ASC) AS rnk
    FROM vscored) WHERE rnk <= {K}
),
unioned AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
fused AS (
  SELECT query_id, doc_id,
         CAST(round(sum(1.0::DOUBLE / ({RRF_K0} + rank)) * {RRF_QUANT}) AS BIGINT) AS rrf_q
  FROM unioned GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_q, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_q DESC, doc_id ASC) AS rank
  FROM fused) WHERE rank <= {K}
"""


# --- simpler IR stage queries (SURVEY §2.1 S*, §2.4 A7-A9, F12) -------------

def _postings_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goldenretriever_spark.index.build import build_index

    return build_index(_documents(spark, sf_dir), tokenizer="simple").postings.select(
        "term", "doc_id", "tf", "doc_len"
    )


def _doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goldenretriever_spark.index.build import build_index

    return build_index(_documents(spark, sf_dir), tokenizer="simple").doc_stats.select(
        "doc_id", "doc_len", "sha256"
    )


def _corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goldenretriever_spark.index.build import build_index

    idx = build_index(_documents(spark, sf_dir), tokenizer="simple")
    return idx.corpus_stats.select(
        "n_docs", F.round(F.col("avgdl") * 10000).cast("long").alias("avgdl_q")
    )


def _term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goldenretriever_spark.index.build import build_index

    return build_index(_documents(spark, sf_dir), tokenizer="simple").term_stats


# Fixed phrase queries for the positional-index contract row: one bigram,
# one trigram, both present in the driver corpus vocabulary.
PHRASE_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["table", "hash"]),
    (2, ["slow", "hash", "batch"]),
]


_POS_BLOCKS_MEMO: dict[str, tuple] = {}


def _positional_blocks(spark: SparkSession, sf_dir: str):
    """(index, packed positional blocks) over the driver corpus
    (index/positions.py), the blocks cached so multi-phrase contract
    queries pack once. At production scale these are persisted by
    write_index(positional=...) and read back via StoredIndex — here the
    driver re-derives them per query run, exercising the same pack -> prune
    -> decode -> match path end-to-end. The blocks hold docnos; the index's
    doc_stats maps result rows back to doc_ids.

    Memoized per sf_dir (ADVICE r6): the three positional contract queries
    (_ir_phrase_match / _ir_proximity_match / _ir_phrase_ranked_topk) now
    share ONE cached copy instead of each holding its own."""
    memo = _POS_BLOCKS_MEMO.get(sf_dir)
    if memo is not None:
        return memo
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks

    docs = _documents(spark, sf_dir)
    idx = build_index(docs, tokenizer="simple", persist=False)
    blocks = pack_positional_blocks(docs, tokenizer="simple", postings=idx.postings).cache()
    _POS_BLOCKS_MEMO[sf_dir] = (idx, blocks)
    return idx, blocks


def _ir_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search served from the PERSISTED positional-blocks
    layout (query/phrase.phrase_match_stored): for each fixed phrase, the
    docs containing the consecutive token sequence plus the (overlapping)
    occurrence count. The corpus is tokenized once at pack time; each query
    touches only its terms' blocks (stored-vs-scan identity:
    tests/test_positions.py)."""
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.phrase import phrase_match_stored

    idx, blocks = _positional_blocks(spark, sf_dir)
    outs = [
        phrase_match_stored(blocks, ph).select(
            F.lit(pid).cast("long").alias("phrase_id"), "doc_id", "occurrences"
        )
        for pid, ph in PHRASE_QUERIES
    ]
    return to_doc_ids(reduce(DataFrame.unionByName, outs), idx.doc_stats)


# Fixed proximity queries (terms, window) for the past-cap contract row:
# all terms within a W-token window, order-free (Lucene sloppy-phrase style).
PROXIMITY_QUERIES: list[tuple[int, list[str], int]] = [
    (1, ["hash", "join"], 4),
    (2, ["slow", "scan", "filter"], 8),
]


def _ir_proximity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered proximity search served from the persisted positional
    blocks (query/phrase.proximity_match_stored): docs where all query terms
    co-occur within a W-token window, plus the count of distinct satisfying
    window starts."""
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.phrase import proximity_match_stored

    idx, blocks = _positional_blocks(spark, sf_dir)
    outs = [
        proximity_match_stored(blocks, terms, w).select(
            F.lit(pid).cast("long").alias("prox_id"), "doc_id", "n_windows"
        )
        for pid, terms, w in PROXIMITY_QUERIES
    ]
    return to_doc_ids(reduce(DataFrame.unionByName, outs), idx.doc_stats)


def _ir_phrase_ranked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-aware ranked retrieval (query/phrase.phrase_ranked_topk_stored):
    BM25 over each phrase's terms from the posting blocks plus a saturating
    ln(1+occurrences) exact-phrase boost from the positional blocks — the
    positional index as a retrieval consumer, not a boolean endpoint."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.phrase import phrase_ranked_topk_stored

    idx, positional = _positional_blocks(spark, sf_dir)
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    ranked = phrase_ranked_topk_stored(
        spark, blocks, idx.corpus_stats, positional, PHRASE_QUERIES, k=K, boost=1.0
    )
    return to_doc_ids(ranked, idx.doc_stats)


# Boolean filter for the filtered-retrieval contract row (shared by the
# Spark query and the generated oracle): docs must contain 'hash' and must
# not contain 'merge' — both common in the driver corpus (394/393 of 500
# docs at sf0.01), so the filter is selective yet leaves real matches.
FILTER_MUST = ["hash"]
FILTER_MUST_NOT = ["merge"]


def _ir_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k under a boolean filter (ES bool{filter,must_not}+match
    shape; query/boolean.filtered_top_k): the filter prunes candidates
    BEFORE ranking, so the k returned are the k best qualifying docs —
    not a post-filter of the unfiltered top-k."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.boolean import filtered_top_k

    idx = build_index(_documents(spark, sf_dir), tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    ranked = filtered_top_k(
        spark, blocks, idx.corpus_stats, FLAGSHIP_QUERIES, k=K,
        must=FILTER_MUST, must_not=FILTER_MUST_NOT,
    )
    return _score_q(to_doc_ids(ranked, idx.doc_stats))


# Fixed boolean queries (must / should / must_not) for the contract row —
# Lucene BooleanQuery semantics over the stored compressed posting blocks.
BOOLEAN_QUERIES: list[tuple[int, dict]] = [
    (1, {"must": ["def", "return"], "must_not": ["todo"]}),
    (2, {"should": ["hash", "join", "merge"], "min_should_match": 2}),
    (3, {"must": ["import"], "should": ["os", "sys"]}),
]


def _ir_boolean_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval from the stored posting blocks (beyond parity —
    the reference has no boolean surface): must = conjunction, should with
    min_should_match, must_not anti-joined; doc-id-only decode, term_bucket
    pruning (query/boolean.boolean_match_stored)."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.boolean import boolean_match_stored

    idx = build_index(_documents(spark, sf_dir), tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    outs = [
        boolean_match_stored(blocks, **spec).select(
            F.lit(bid).cast("long").alias("bq_id"), "doc_id", "n_should_hit"
        )
        for bid, spec in BOOLEAN_QUERIES
    ]
    return to_doc_ids(reduce(DataFrame.unionByName, outs), idx.doc_stats)


def _kb_build_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kb data model end-to-end (SURVEY §2.1 S1-S4, §2.3 J1-J2): synthesize
    QA pairs from documents (query = first 3 tokens), build the kb tables
    with dense ids, flatten through the mapping."""
    from goldenretriever_spark.sources.kb import build_kb, create_df

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    qa = d.select(
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("query_string"),
        F.col("text").alias("raw_string"),
        F.col("lang").alias("context_string"),
    )
    kb = build_kb(qa, kb_name="docs")
    flat = create_df(kb)
    return flat.select(
        "query_id", "response_id", "query_string", F.md5("processed_string").alias("proc_md5")
    ).dropDuplicates()


def _bm25_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term BM25 score attribution (word importance, SURVEY F13): the
    additive per-(query,term,doc) contribution, quantized."""
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.query import bm25

    idx = build_index(_documents(spark, sf_dir), tokenizer="simple")
    terms = bm25.query_terms_df(spark, FLAGSHIP_QUERIES, tokenizer="simple")
    return bm25.explain_contributions(idx, terms).select(
        "query_id",
        "doc_id",
        "term",
        F.round(F.col("contribution") * 10000).cast("long").alias("contribution_q"),
    )


def _ranked_and_qrels(spark: SparkSession, sf_dir: str):
    ranked = _bm25_topk(spark, sf_dir).withColumnRenamed("score_q", "score")
    qrels = ranked.groupBy("query_id").agg(F.min("doc_id").alias("doc_id"))
    return ranked, qrels


def _eval_accuracy_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named accuracy@k metric (SURVEY A3) over the flagship ranking."""
    from goldenretriever_spark.operators.evaluation import accuracy_at_k

    ranked, qrels = _ranked_and_qrels(spark, sf_dir)
    return accuracy_at_k(ranked, qrels)


def _eval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining make_closewrong (SURVEY W4/J6 composite)."""
    from goldenretriever_spark.operators.evaluation import hard_negatives

    ranked, qrels = _ranked_and_qrels(spark, sf_dir)
    return hard_negatives(ranked, qrels)


def _eval_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR + recall@k per kb with grand total (SURVEY A1-A4) over the BM25
    flagship ranking; qrels = min doc_id in each query's top-10 (deterministic
    in both engines), kb = query parity."""
    from goldenretriever_spark.operators.evaluation import metrics_per_kb

    ranked = _bm25_topk(spark, sf_dir).withColumnRenamed("score_q", "score")
    qrels = ranked.groupBy("query_id").agg(F.min("doc_id").alias("doc_id"))
    ranked_kb = ranked.withColumn(
        "kb_name", F.when(F.col("query_id") % 2 == 0, "even").otherwise("odd")
    )
    return metrics_per_kb(ranked_kb, qrels)


def _fn_clean_txt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference scalar functions clean_txt / words-regex (SURVEY F1/F6)."""
    from goldenretriever_spark.functions.text import clean_txt, words_and_punct

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.md5(clean_txt(F.col("text"))).alias("clean_md5"),
        F.size(words_and_punct(F.col("text"))).cast("long").alias("n_words"),
    )


def _media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synth binary payloads -> Arrow-batched metadata
    decode (deterministic fake codec; see operators/multimodal.py)."""
    from goldenretriever_spark.operators.multimodal import q_media_decode

    return q_media_decode(spark, sf_dir)


def _sink_querylog_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-log append + feedback latest-wins merge (SURVEY S10-S11):
    write a deterministic log + two feedback generations to a scratch dir,
    return the merged view's stable columns."""
    import shutil
    import tempfile

    from goldenretriever_spark.sources.sinks import (
        log_queries,
        querylog_view,
        upload_feedback,
    )

    tmp = tempfile.mkdtemp(prefix="gr_sink_")
    try:
        ql = spark.createDataFrame(
            [(f"q{i}", f"query text {i}", [f"resp{i}a", f"resp{i}b"]) for i in range(5)],
            "query_id string, query_text string, responses array<string>",
        )
        log_queries(spark, tmp, ql)
        fb = spark.createDataFrame(
            [
                ("q1", [True], "2024-01-01 00:00:00"),
                ("q1", [True, False, True], "2024-01-02 00:00:00"),  # latest wins
                ("q3", [False, False], "2024-01-01 12:00:00"),
            ],
            "query_id string, is_correct array<boolean>, feedback_timestamp string",
        ).withColumn("feedback_timestamp", F.col("feedback_timestamp").cast("timestamp"))
        upload_feedback(spark, tmp, fb)
        # arrays serialized to JSON strings: the driver's pandas canonicalizer
        # sorts cell values and list cells are unhashable — compare scalars
        view = querylog_view(spark, tmp)
        return spark.createDataFrame(
            view.select(
                "query_id",
                "query_text",
                F.to_json("responses").alias("responses_json"),
                F.to_json("is_correct").alias("is_correct_json"),
            ).collect(),
            "query_id string, query_text string, responses_json string, is_correct_json string",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- CSV/TXT file-format sources (VERDICT r4 #7) ---------------------------
# Deterministic fixtures at a FIXED path, written idempotently (atomic
# replace) by BOTH the Spark query and the oracle-SQL builder, so whichever
# engine runs first finds identical bytes. Content exercises: quoted field
# with embedded comma, 'nan' query drop, empty-context default-fill, an
# exact-duplicate QA row (dense-id dedup), the file-order cutoff, a
# multi-line clause and a body-less clause.

_FIXTURE_DIR = "/tmp/gr_file_fixture_v1"
_KB_CSV = os.path.join(_FIXTURE_DIR, "kb.csv")
_NOTES_TXT = os.path.join(_FIXTURE_DIR, "notes.txt")
_KB_CSV_CONTENT = """query_str,ans_str,context_str
how to sort,Use merge sort for stability.,sorting
how to sort,"Quicksort, in-place and fast.",sorting
nan,dropped row,ctx
how to join,Hash join beats nested loops.,
what is bm25,BM25 ranks by term frequency saturation.,ranking
how to join,Hash join beats nested loops.,
beyond cutoff,Never seen.,x
"""
_NOTES_TXT_CONTENT = """what is a heap
A heap is a tree-shaped priority queue.
Stored as an array.

how to hash
Hashing maps keys to buckets.

orphan clause with no body
"""


def _ensure_file_fixtures() -> tuple[str, str]:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    for path, content in ((_KB_CSV, _KB_CSV_CONTENT), (_NOTES_TXT, _NOTES_TXT_CONTENT)):
        try:
            with open(path) as f:
                if f.read() == content:
                    continue
        except OSError:
            pass
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(content)
        os.replace(tmp, path)
    return _KB_CSV, _NOTES_TXT


def _src_parse_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV/TXT file-format sources end-to-end (SURVEY S1-S4 over REAL file
    scans, not the synthesized QA frame): parse_csv (header sniff,
    default-fill, 'nan' drop, cutoff=6 in file order) + parse_text
    (blank-line clause split, first-line-as-query), flattened through the
    dense-id kb model; oracle = DuckDB read_csv/read_text twins over the
    same fixture files."""
    from goldenretriever_spark.sources.kb import create_df, parse_csv, parse_text

    csv_path, txt_path = _ensure_file_fixtures()
    kb_csv = parse_csv(spark, csv_path, kb_name="csvkb", cutoff=6)
    kb_txt = parse_text(spark, txt_path, kb_name="txtkb")
    cols = ["kb_name", "query_id", "response_id", "query_string", "processed_string"]
    return create_df(kb_csv).select(*cols).unionByName(create_df(kb_txt).select(*cols))


def _src_parse_files_sql() -> str:
    csv_path, txt_path = _ensure_file_fixtures()
    return f"""
WITH csvsrc AS (
  SELECT * FROM read_csv('{csv_path}', header=true, all_varchar=true) LIMIT 6),
csvqa AS (
  SELECT ans_str AS raw_string, coalesce(context_str, '') AS context_string,
         query_str AS query_string
  FROM csvsrc WHERE query_str IS NOT NULL AND query_str <> 'nan'),
csvqa2 AS (
  SELECT *, regexp_replace(context_string || ' ' || raw_string, '\\n', '', 'g')
            AS processed_string
  FROM csvqa),
csvrid AS (SELECT raw_string, row_number() OVER (ORDER BY raw_string ASC) - 1 AS response_id
           FROM (SELECT DISTINCT raw_string FROM csvqa2)),
csvqid AS (SELECT query_string, row_number() OVER (ORDER BY query_string ASC) - 1 AS query_id
           FROM (SELECT DISTINCT query_string FROM csvqa2)),
csvflat AS (
  SELECT DISTINCT 'csvkb' AS kb_name, query_id, response_id, query_string, processed_string
  FROM csvqa2 JOIN csvrid USING (raw_string) JOIN csvqid USING (query_string)),
txtwhole AS (SELECT content FROM read_text('{txt_path}')),
txtclauses AS (
  SELECT trim(t.c) AS clause
  FROM txtwhole, unnest(string_split(content, chr(10) || chr(10))) AS t(c)
  WHERE length(trim(t.c)) > 0),
txtqa AS (
  SELECT trim(string_split(clause, chr(10))[1]) AS query_string,
         trim(substr(clause, length(string_split(clause, chr(10))[1]) + 2)) AS raw_string,
         '' AS context_string
  FROM txtclauses),
txtqa2 AS (
  SELECT *, regexp_replace(context_string || ' ' || raw_string, '\\n', '', 'g')
            AS processed_string
  FROM txtqa WHERE length(raw_string) > 0),
txtrid AS (SELECT raw_string, row_number() OVER (ORDER BY raw_string ASC) - 1 AS response_id
           FROM (SELECT DISTINCT raw_string FROM txtqa2)),
txtqid AS (SELECT query_string, row_number() OVER (ORDER BY query_string ASC) - 1 AS query_id
           FROM (SELECT DISTINCT query_string FROM txtqa2)),
txtflat AS (
  SELECT DISTINCT 'txtkb' AS kb_name, query_id, response_id, query_string, processed_string
  FROM txtqa2 JOIN txtrid USING (raw_string) JOIN txtqid USING (query_string))
SELECT * FROM csvflat UNION ALL SELECT * FROM txtflat
"""


def _rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (SURVEY §2.4 agg family):
    Spark's exact percentile() == DuckDB quantile_cont (same linear
    interpolation over the sorted set); quantized for the hash compare.
    At 100 TB you'd reach for approx_percentile (t-digest sketch, one pass,
    mergeable) — kept exact here because the contract hash needs
    deterministic equality; the call-site swap is one function name."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = lambda p, name: F.round(  # noqa: E731
        F.expr(f"percentile(l_extendedprice, {p})") * 100
    ).cast("long").alias(name)
    return li.groupBy("l_returnflag").agg(
        q(0.5, "p50_q"), q(0.95, "p95_q"), q(0.99, "p99_q"),
        F.count(F.lit(1)).alias("cnt"),
    )


def _rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (SURVEY §2.4 agg surface): event counts per user bucketed wide
    by event_type. Spark pivot() with an EXPLICIT value list — at scale the
    implicit variant adds a distinct-values job and an unbounded column
    blowup; pinning the list keeps the plan one pass."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(10)))
        .groupBy("bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def _rel_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via session_window (SURVEY §2.5 window
    family): click events chain into a session while consecutive gaps are
    <= 30 min (merge at exactly the gap — pinned by probe; the oracle's
    islands rule is strictly-greater for a new session)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return (
        clicks.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("sess_start_epoch"),
            F.unix_timestamp(F.col("session_window.end")).alias("sess_end_epoch"),
            "n_events",
        )
    )


def _rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY brief custom operator): each click event joined to
    the user's latest purchase at-or-before it — union+window forward-fill,
    one shuffle, no pair blowup (operators/temporal.as_of_join)."""
    from goldenretriever_spark.operators.temporal import as_of_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid"), "value"
    )
    out = as_of_join(clicks, purch, on=["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.unix_timestamp("r_ts").alias("p_ts_epoch"),
        F.col("r_pid").alias("p_event_id"),
        F.round(F.col("r_value") * 10000).cast("long").alias("p_value_q"),
    )


def _rel_asof_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with NULLS in the carried right columns (round-4 ADVICE
    fix, oracle-checked): value/qty are nulled on disjoint pid residues, so
    any per-column forward fill would assemble (value, qty) pairs from two
    different purchases — the DuckDB LATERAL twin carries whole rows and
    catches exactly that."""
    from goldenretriever_spark.operators.temporal import as_of_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("pid"),
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value")).alias("value"),
        F.when(F.col("event_id") % 3 == 1, F.lit(None))
        .otherwise(F.col("event_id") % 7)
        .cast("long")
        .alias("qty"),
    )
    out = as_of_join(clicks, purch, on=["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.unix_timestamp("r_ts").alias("p_ts_epoch"),
        F.col("r_pid").alias("p_event_id"),
        F.round(F.col("r_value") * 10000).cast("long").alias("p_value_q"),
        F.col("r_qty").cast("long").alias("p_qty"),
    )


def _rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join: purchases within 24h before each click, rolled up
    per click (quantize-then-sum keeps the value integer-exact in both
    engines)."""
    from goldenretriever_spark.operators.temporal import range_join_binned

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid"), "value"
    )
    j = range_join_binned(clicks, purch, on=["user_id"], window_seconds=86_400)
    return j.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_purch"),
        F.sum(F.round(F.col("r_value") * 10000).cast("long")).alias("sum_value_q"),
    )


def _stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed counts (SURVEY §2.9): one availableNow
    drain over the events table = one data batch (no late drops) + the
    no-data flush batch, so emitted windows are exactly those ending at or
    before max(ts) - watermark — the oracle's closed form."""
    import shutil
    import tempfile

    from goldenretriever_spark.streaming.windowed import (
        streaming_windowed_counts,
        window_counts_view,
    )

    tmp = tempfile.mkdtemp(prefix="gr_wincount_")
    try:
        spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(2).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/in")
        streaming_windowed_counts(
            spark, f"{tmp}/in", f"{tmp}/out", window="1 day", watermark="1 hour"
        )
        out = _result_scratch("stream_windows")
        window_counts_view(spark, f"{tmp}/out").select(
            F.col("window_start").cast("long").alias("ws_epoch"),
            F.col("window_end").cast("long").alias("we_epoch"),
            "event_type",
            "n_events",
        ).write.mode("overwrite").parquet(out)
        return spark.read.parquet(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stream_stateful_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState cross-batch dedupe (SURVEY §2.9/§2.10): each
    distinct content digest emitted once, min (repo, path, commit) wins. The
    drain runs as ONE micro-batch here (few input files, availableNow), so
    the winner is the global min — exactly the oracle's window expression."""
    import shutil
    import tempfile

    from goldenretriever_spark.corpus import driver_documents
    from goldenretriever_spark.streaming.stateful import deduped_view, streaming_dedupe

    tmp = tempfile.mkdtemp(prefix="gr_statedup_")
    try:
        docs = driver_documents(spark, sf_dir).select(
            "repo", "path", "commit", "lang", "content"
        )
        docs.coalesce(2).write.mode("overwrite").parquet(f"{tmp}/in")
        streaming_dedupe(spark, f"{tmp}/in", f"{tmp}/out")
        out = _result_scratch("stream_dedupe")
        deduped_view(spark, f"{tmp}/out").write.mode("overwrite").parquet(out)
        return spark.read.parquet(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stream_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming incremental index build (SURVEY §2.9): drain the
    corpus through readStream+foreachBatch appends; the streamed postings
    must equal the batch build (oracle = the batch postings SQL)."""
    import shutil
    import tempfile

    from goldenretriever_spark.corpus import driver_documents
    from goldenretriever_spark.streaming.incremental import (
        incremental_postings_build,
        streamed_index_views,
    )

    tmp = tempfile.mkdtemp(prefix="gr_stream_")
    try:
        docs = driver_documents(spark, sf_dir).select(
            "repo", "path", "commit", "lang", "content", "doc_id"
        )
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        incremental_postings_build(
            spark, f"{tmp}/in", f"{tmp}/out",
            schema="repo string, path string, commit string, lang string, content string, doc_id long",
        )
        postings = streamed_index_views(spark, f"{tmp}/out").postings
        # the streaming scratch dir is deleted below, so the returned frame
        # must not read from it — re-materialize to a stable scratch parquet
        # (distributed write/read; never a full-frame collect to the driver)
        out = _result_scratch("stream_postings")
        postings.select("term", "doc_id", "tf", "doc_len").write.mode(
            "overwrite"
        ).parquet(out)
        return spark.read.parquet(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering note (VERDICT r4 #2): the driver grades the FIRST 50 entries.
    Every operator FAMILY must land inside that window, so the four
    sink/stream queries and the file-format source query sit before the cap
    and redundant variants of already-graded families sit after it:
    ann_lsh_multiprobe / ann_lsh_multitable (the lsh_topk family is graded),
    ann_ivf_topk (the trained variant is the stricter superset and is
    graded), rel_asof_join (the nulls variant is the stricter superset and
    is graded), dedup_simhash + dedup_minhash_signatures (their signatures
    are implied by the graded pairs queries), and — displaced in r5 to make
    room for ir_phrase_match + txt_quality_filter — rel_window_running and
    rel_pivot (generic beyond-parity relational demos; the window family
    keeps rel_window_rank graded, percentiles/rollup keep grouping-sets
    graded), and — displaced in r6 to grade ir_proximity_match +
    ir_phrase_ranked_topk — txt_quality_score (subsumed by the graded
    conjunctive txt_quality_filter, which computes the same Gopher stats)
    and ann_lsh_topk (the bucketed-ANN scale-path family stays graded via
    the stricter ann_ivf_trained_topk; multiprobe/multitable LSH variants
    were already past-cap on the same rationale), and — displaced to grade
    ir_boolean_match + ir_filtered_topk — rel_semi_join (its twin plan
    rel_anti_join stays graded) and rel_union_distinct (set ops stay graded
    via rel_anti_join and rel_train_test_split). The past-cap entries
    remain fully implemented, oracle-backed and pytest-run."""
    from goldenretriever_spark.operators import ann, dedup, relational, split, textstats

    return {
        # --- IR / BM25 core (SURVEY §2.1, §2.3 J5, §2.4 A7-A8, §2.5-2.6) ---
        "bm25_topk": _bm25_topk,
        "bm25_wand_topk": _bm25_wand_topk,
        "bm25_explain": _bm25_explain,
        "ir_postings_tf": _postings_tf,
        "ir_doc_stats_sha256": _doc_stats,
        "ir_corpus_stats": _corpus_stats,
        "ir_term_df": _term_df,
        # positional-index phrase/proximity search served from the stored
        # blocks (r5 scan path -> r6 persisted path), plus phrase-boosted
        # ranking — the positional index's retrieval consumer (r6)
        "ir_phrase_match": _ir_phrase_match,
        "ir_proximity_match": _ir_proximity_match,
        "ir_phrase_ranked_topk": _ir_phrase_ranked_topk,
        "ir_boolean_match": _ir_boolean_match,
        "ir_filtered_topk": _ir_filtered_topk,
        # --- sources + sinks + streaming (SURVEY §2.1 S1-S4, S9-S11, §2.9) ---
        "src_parse_files": _src_parse_files,
        "sink_querylog_feedback": _sink_querylog_feedback,
        "stream_incremental_postings": _stream_incremental_postings,
        "stream_stateful_dedupe": _stream_stateful_dedupe,
        "stream_windowed_counts": _stream_windowed_counts,
        # --- relational surface (SURVEY §2.2-2.8) ---
        "rel_pricing_summary": relational.q_pricing_summary,
        "rel_join_topk": relational.q_join_topk,
        "rel_rollup_metrics": relational.q_rollup_metrics,
        "rel_window_rank": relational.q_window_rank,
        "rel_anti_join": relational.q_anti_join,
        "rel_dense_rank_ids": relational.q_dense_rank_ids,
        "rel_filter_project_fill": relational.q_filter_project_fill,
        "rel_grouping_sets_region": relational.q_grouping_sets_region,
        "rel_train_test_split": split.q_train_test_split,
        "rel_asof_join_nulls": _rel_asof_join_nulls,
        "rel_session_windows": _rel_session_windows,
        "rel_percentiles": _rel_percentiles,
        "rel_range_join": _rel_range_join,
        # --- text analysis (training-data ops) ---
        "txt_token_count": textstats.q_token_count,
        # Gopher-rule conjunctive keep/drop gate (r5)
        "txt_quality_filter": textstats.q_quality_filter,
        "txt_lang_id": textstats.q_lang_id,
        "txt_fingerprint": textstats.q_fingerprint,
        # --- deduplication (training-data ops) ---
        "dedup_exact": dedup.q_exact_dedup,
        "dedup_minhash_lsh_pairs": dedup.q_minhash_lsh_pairs,
        "dedup_ngram_jaccard": dedup.q_ngram_jaccard_pairs,
        "dedup_simhash_pairs": dedup.q_simhash_pairs,
        "dedup_components": dedup.q_dedup_components,
        "dedup_keep_canonical": dedup.q_dedup_keep_canonical,
        "dedup_embedding_neardup": dedup.q_embedding_neardup_pairs,
        # --- similarity search ---
        "ann_brute_topk": ann.q_ann_brute_topk,
        # trained coarse quantizer: the SERVING plan is oracle-checked via
        # the pinned sf0.01 codebook literals (operators/ivf_codebook.py);
        # the training loop itself stays pytest-covered
        "ann_ivf_trained_topk": ann.q_ann_ivf_trained_topk,
        # --- hybrid retrieval (RRF fusion of the lexical + vector legs) ---
        "hybrid_rrf_topk": _hybrid_rrf_topk,
        # --- kb data model + eval harness + functions ---
        "kb_build_flatten": _kb_build_flatten,
        "eval_metrics_rollup": _eval_metrics_rollup,
        "eval_accuracy_at_k": _eval_accuracy_at_k,
        "eval_hard_negatives": _eval_hard_negatives,
        "fn_clean_txt": _fn_clean_txt,
        "media_decode": _media_decode,
        # ---------------- 50-entry grading cap falls here ----------------
        # redundant variants of families already graded above (see docstring)
        "rel_window_running": relational.q_window_running,
        "rel_pivot": _rel_pivot,
        "ann_ivf_topk": ann.q_ann_ivf_topk,
        "rel_asof_join": _rel_asof_join,
        "ann_lsh_multiprobe": partial(ann.q_ann_lsh, radius=1),
        "ann_lsh_multitable": partial(ann.q_ann_lsh, n_tables=4),
        "ann_lsh_topk": ann.q_ann_lsh,
        "dedup_simhash": dedup.q_simhash,
        "dedup_minhash_signatures": dedup.q_minhash_signatures,
        "txt_quality_score": textstats.q_quality_score,
        "rel_semi_join": relational.q_semi_join,
        "rel_union_distinct": relational.q_union_distinct,
    }


def oracle_sql() -> dict[str, str]:
    from goldenretriever_spark.plans.oracles import all_oracles

    out = all_oracles()
    out.update(_ir_oracles())
    # Near-dup connected components: the SimHash-pairs oracle is reused as
    # the edge set, then a recursive CTE propagates the min reachable id —
    # DuckDB's fixpoint semantics (UNION dedup) terminate exactly at the
    # component minimum, the same fixpoint the Spark large-star/small-star
    # rewrites converge to.
    out["dedup_components"] = f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({out['dedup_simhash_pairs']}) WHERE hamming <= 1),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
)
SELECT id AS doc_id, min(r)::BIGINT AS component_id FROM reach GROUP BY id
"""
    # keep-one dedup: corpus minus non-canonical cluster members
    out["dedup_keep_canonical"] = f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({out['dedup_simhash_pairs']}) WHERE hamming <= 1),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY id),
losers AS (SELECT doc_id FROM comp WHERE doc_id != component_id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""
    return out


def _kb_flatten_sql() -> str:
    return r"""
WITH qa AS (
  SELECT array_to_string(list_slice(string_split_regex(lower(trim(text)), '\s+'), 1, 3), ' ') AS query_string,
         text AS raw_string, lang AS context_string
  FROM documents),
qa2 AS (SELECT *, regexp_replace(context_string || ' ' || raw_string, '\n', '', 'g') AS processed_string FROM qa),
rid AS (SELECT raw_string, row_number() OVER (ORDER BY raw_string ASC) - 1 AS response_id
        FROM (SELECT DISTINCT raw_string FROM qa2)),
qid AS (SELECT query_string, row_number() OVER (ORDER BY query_string ASC) - 1 AS query_id
        FROM (SELECT DISTINCT query_string FROM qa2))
SELECT DISTINCT query_id, response_id, query_string, md5(processed_string) AS proc_md5
FROM qa2 JOIN rid USING (raw_string) JOIN qid USING (query_string)
"""


def _eval_rollup_sql() -> str:
    recalls = ",\n       ".join(
        f"CAST(round(avg(CASE WHEN gold_rank <= {k} THEN 1.0 ELSE 0.0 END) * 10000) AS BIGINT) AS recall_at_{k}_q"
        for k in (1, 2, 3)
    )
    return f"""
WITH ranked AS ({_bm25_topk_sql()}),
qrels AS (SELECT query_id, min(doc_id) AS doc_id FROM ranked GROUP BY 1),
g AS (SELECT CASE WHEN r.query_id % 2 = 0 THEN 'even' ELSE 'odd' END AS kb_name,
             r.query_id, min(r.rank) AS gold_rank
      FROM ranked r JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.doc_id
      GROUP BY 1, 2)
SELECT coalesce(kb_name, 'ALL') AS kb_name,
       count(*)::BIGINT AS n_queries,
       CAST(round(avg(1.0 / gold_rank) * 10000) AS BIGINT) AS mrr_q,
       {recalls}
FROM g GROUP BY ROLLUP (kb_name)
"""


def _hex4_sql(e: str) -> str:
    """DuckDB twin of operators.dedup._hex4_to_int over md5(e)[0:4]."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({e}), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )


def _bm25_explain_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
qterms(query_id, term) AS (VALUES {_queries_values_sql()})
SELECT q.query_id, p.doc_id, q.term,
       CAST(round( ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
          * (p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.doc_len / c.avgdl))) * 10000) AS BIGINT)
         AS contribution_q
FROM qterms q
JOIN postings p USING (term)
JOIN term_stats t ON p.term = t.term
JOIN doc_stats d ON p.doc_id = d.doc_id
CROSS JOIN corpus c
"""


def _eval_accuracy_sql() -> str:
    accs = ",\n       ".join(
        f"CAST(round(sum(CASE WHEN gold_rank <= {k} THEN 1.0 ELSE 0.0 END)"
        f" / (SELECT nq FROM n) * 10000) AS BIGINT) AS accuracy_at_{k}_q"
        for k in (1, 2, 3)
    )
    return f"""
WITH ranked AS ({_bm25_topk_sql()}),
qrels AS (SELECT query_id, min(doc_id) AS doc_id FROM ranked GROUP BY 1),
n AS (SELECT count(DISTINCT query_id) AS nq FROM qrels),
g AS (SELECT r.query_id, min(r.rank) AS gold_rank
      FROM ranked r JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.doc_id
      GROUP BY 1)
SELECT {accs} FROM g
"""


def _eval_hard_negatives_sql() -> str:
    return f"""
WITH ranked AS ({_bm25_topk_sql()}),
qrels AS (SELECT query_id, min(doc_id) AS doc_id FROM ranked GROUP BY 1),
neg AS (SELECT r.query_id, r.doc_id, r.rank FROM ranked r
        ANTI JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.doc_id)
SELECT query_id, doc_id AS neg_doc_id, rank AS neg_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rank ASC, doc_id ASC) AS rn
      FROM neg)
WHERE rn = 1
"""


def _train_test_split_sql() -> str:
    key = "doc_id::VARCHAR || '|100'"
    bucket = f"CAST(({_hex4_sql(key)}) % 5 AS BIGINT)"
    return f"""
WITH b AS (SELECT doc_id, {bucket} AS bucket FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 2 THEN 'test' ELSE 'train' END AS split
FROM b
"""


def _phrase_match_sql() -> str:
    """Exact sliding-window phrase-occurrence twin, generated from
    PHRASE_QUERIES so both engines share one phrase definition. Counts
    OVERLAPPING occurrences (list-slice equality at every start), matching
    query/phrase.py semantics."""
    arms = []
    for pid, ph in PHRASE_QUERIES:
        n = len(ph)
        lit = "[" + ", ".join(f"'{t}'" for t in ph) + "]"
        arms.append(
            f"SELECT CAST({pid} AS BIGINT) AS phrase_id, doc_id, "
            f"CAST(len(list_filter(range(1, len(tk) - {n} + 2), "
            f"s -> tk[s:s+{n - 1}] = {lit})) AS BIGINT) AS occurrences FROM tkd"
        )
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""
WITH tkd AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '{_WS}'), x -> x <> '') AS tk
  FROM documents)
SELECT * FROM (
  {union})
WHERE occurrences > 0
"""


def _phrase_ranked_sql() -> str:
    """Twin of _ir_phrase_ranked_topk: the bm25_topk scored CTE with each
    phrase's distinct terms as the query terms, LEFT-joined to the exact
    sliding-window phrase occurrences, boosted by 1.0 * ln(1+occ), quantized
    x10000, top-{K} per query with the (score desc, doc_id asc) tie rule."""
    qrows = []
    arms = []
    for pid, ph in PHRASE_QUERIES:
        for term in sorted(set(ph)):
            qrows.append(f"({pid}, '{term}')")
        n = len(ph)
        lit = "[" + ", ".join(f"'{t}'" for t in ph) + "]"
        arms.append(
            f"SELECT CAST({pid} AS BIGINT) AS query_id, doc_id, "
            f"CAST(len(list_filter(range(1, len(tk) - {n} + 2), "
            f"s -> tk[s:s+{n - 1}] = {lit})) AS BIGINT) AS occurrences FROM tkd"
        )
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""
WITH {_TOKS_CTE},
qterms(query_id, term) AS (VALUES {", ".join(qrows)}),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum( ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
            * (p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.doc_len / c.avgdl))) ) AS score
  FROM qterms q
  JOIN postings p USING (term)
  JOIN term_stats t ON p.term = t.term
  JOIN doc_stats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  GROUP BY q.query_id, p.doc_id
),
tkd AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '{_WS}'), x -> x <> '') AS tk
  FROM documents),
occ AS (
  SELECT * FROM (
    {union})
  WHERE occurrences > 0),
ranked AS (
  SELECT s.query_id, s.doc_id,
         CAST(round((s.score + 1.0 * ln(1 + coalesce(o.occurrences, 0))) * 10000) AS BIGINT) AS score_q,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY CAST(round((s.score + 1.0 * ln(1 + coalesce(o.occurrences, 0))) * 10000) AS BIGINT) DESC,
                    s.doc_id ASC
         ) AS rank
  FROM scored s
  LEFT JOIN occ o ON s.query_id = o.query_id AND s.doc_id = o.doc_id
)
SELECT query_id, doc_id, score_q, rank FROM ranked WHERE rank <= {K}
"""


def _proximity_match_sql() -> str:
    """Sliding-window proximity twin, generated from PROXIMITY_QUERIES: a
    1-based start s satisfies iff the (end-truncated) W-token slice
    tk[s : s+W-1] contains all distinct terms — exactly the index path's
    start-vote domain (every vote start covers its voter's position)."""
    arms = []
    for pid, terms, w in PROXIMITY_QUERIES:
        tset = sorted(set(terms))
        lit = "[" + ", ".join(f"'{t}'" for t in tset) + "]"
        arms.append(
            f"SELECT CAST({pid} AS BIGINT) AS prox_id, doc_id, "
            f"CAST(len(list_filter(range(1, len(tk) + 1), "
            f"s -> list_has_all(tk[s:s+{w - 1}], {lit}))) AS BIGINT) "
            f"AS n_windows FROM tkd"
        )
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""
WITH tkd AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '{_WS}'), x -> x <> '') AS tk
  FROM documents)
SELECT * FROM (
  {union})
WHERE n_windows > 0
"""


def _boolean_match_sql() -> str:
    """Membership-algebra twin of _ir_boolean_match, generated from
    BOOLEAN_QUERIES so both engines share one query definition: must =
    list_has_all, should hits = sum of list_contains, must_not = NOT
    list_contains; min_should_match filters when set (default 1 for pure
    disjunctions, 0 when must clauses exist)."""
    arms = []
    for bid, spec in BOOLEAN_QUERIES:
        must = sorted(set(spec.get("must") or []))
        should = sorted(set(spec.get("should") or []))
        must_not = sorted(set(spec.get("must_not") or []))
        msm = spec.get("min_should_match")
        if msm is None:
            msm = 1 if not must else 0
        conds = []
        if must:
            lit = "[" + ", ".join(f"'{t}'" for t in must) + "]"
            conds.append(f"list_has_all(tk, {lit})")
        for t in must_not:
            conds.append(f"NOT list_contains(tk, '{t}')")
        if should:
            nsh = " + ".join(
                f"CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END"
                for t in should
            )
        else:
            nsh = "0"
        if msm > 0:
            conds.append(f"({nsh}) >= {msm}")
        where = " AND ".join(conds) if conds else "TRUE"
        arms.append(
            f"SELECT CAST({bid} AS BIGINT) AS bq_id, doc_id, "
            f"CAST({nsh} AS BIGINT) AS n_should_hit FROM tkd WHERE {where}"
        )
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""
WITH tkd AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '{_WS}'), x -> x <> '') AS tk
  FROM documents)
{union}
"""


def _filtered_topk_sql() -> str:
    """Twin of _ir_filtered_topk: the bm25_topk scored CTE semi-joined to
    the membership filter (derived from postings, exactly the index path's
    source of truth) BEFORE the rank window — filter-then-rank, never
    rank-then-filter."""
    must_join = "\n  ".join(
        f"JOIN (SELECT DISTINCT doc_id FROM postings WHERE term = '{t}') m{i} USING (doc_id)"
        for i, t in enumerate(sorted(set(FILTER_MUST)))
    )
    not_cond = " AND ".join(
        f"doc_id NOT IN (SELECT doc_id FROM postings WHERE term = '{t}')"
        for t in sorted(set(FILTER_MUST_NOT))
    ) or "TRUE"
    return f"""
WITH {_TOKS_CTE},
qterms(query_id, term) AS (VALUES {_queries_values_sql()}),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum( ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
            * (p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.doc_len / c.avgdl))) ) AS score
  FROM qterms q
  JOIN postings p USING (term)
  JOIN term_stats t ON p.term = t.term
  JOIN doc_stats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  GROUP BY q.query_id, p.doc_id
),
kept AS (
  SELECT s.* FROM scored s
  {must_join}
  WHERE {not_cond}
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(round(score * 10000) AS BIGINT) AS score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(round(score * 10000) AS BIGINT) DESC, doc_id ASC
         ) AS rank
  FROM kept
)
SELECT query_id, doc_id, score_q, rank FROM ranked WHERE rank <= {K}
"""


def _ir_oracles() -> dict[str, str]:
    return {
        "src_parse_files": _src_parse_files_sql(),
        "kb_build_flatten": _kb_flatten_sql(),
        "eval_metrics_rollup": _eval_rollup_sql(),
        "eval_accuracy_at_k": _eval_accuracy_sql(),
        "eval_hard_negatives": _eval_hard_negatives_sql(),
        "bm25_explain": _bm25_explain_sql(),
        "rel_train_test_split": _train_test_split_sql(),
        "fn_clean_txt": r"""
SELECT doc_id,
       md5(rtrim(lower(regexp_replace(regexp_replace(text, '\n', '. ', 'g'), '\.\. ', '. ', 'g')))) AS clean_md5,
       len(regexp_extract_all(text, '([\w'']+|[.,!?;])', 1))::BIGINT AS n_words
FROM documents
""",
        "media_decode": """
SELECT doc_id,
       CASE WHEN 1 + (doc_id % 4) > 1 THEN 'video' ELSE 'image' END AS kind,
       CAST(16 + (doc_id * 7) % 240 AS INTEGER) AS width,
       CAST(16 + (doc_id * 13) % 240 AS INTEGER) AS height,
       CAST(1 + (doc_id % 4) AS INTEGER) AS n_frames,
       CAST(8 + octet_length(encode(text)) AS BIGINT) AS payload_bytes
FROM documents
""",
        "sink_querylog_feedback": """
SELECT query_id, query_text,
       CAST(to_json(responses) AS VARCHAR) AS responses_json,
       CAST(to_json(is_correct) AS VARCHAR) AS is_correct_json
FROM (VALUES
  ('q0', 'query text 0', ['resp0a','resp0b'], NULL::BOOLEAN[]),
  ('q1', 'query text 1', ['resp1a','resp1b'], [true,false,true,false,false]),
  ('q2', 'query text 2', ['resp2a','resp2b'], NULL::BOOLEAN[]),
  ('q3', 'query text 3', ['resp3a','resp3b'], [false,false,false,false,false]),
  ('q4', 'query text 4', ['resp4a','resp4b'], NULL::BOOLEAN[])
) AS t(query_id, query_text, responses, is_correct)
""",
        "rel_percentiles": """
SELECT l_returnflag,
       CAST(round(quantile_cont(l_extendedprice, 0.5) * 100) AS BIGINT) AS p50_q,
       CAST(round(quantile_cont(l_extendedprice, 0.95) * 100) AS BIGINT) AS p95_q,
       CAST(round(quantile_cont(l_extendedprice, 0.99) * 100) AS BIGINT) AS p99_q,
       count(*)::BIGINT AS cnt
FROM lineitem GROUP BY l_returnflag
""",
        "rel_pivot": """
SELECT user_id % 10 AS bucket,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error
FROM events GROUP BY 1
""",
        "rel_session_windows": """
WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
flags AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM clicks WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags)
SELECT user_id,
       floor(epoch(min(ts)))::BIGINT AS sess_start_epoch,
       floor(epoch(max(ts) + INTERVAL 30 MINUTE))::BIGINT AS sess_end_epoch,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, sid
""",
        "rel_asof_join": """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, event_id AS pid, value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, floor(epoch(c.ts))::BIGINT AS ts_epoch,
       floor(epoch(p.ts))::BIGINT AS p_ts_epoch, p.pid AS p_event_id,
       CAST(round(p.value * 10000) AS BIGINT) AS p_value_q
FROM clicks c LEFT JOIN LATERAL (
  SELECT * FROM purch p WHERE p.user_id = c.user_id AND p.ts <= c.ts
  ORDER BY p.ts DESC, p.pid DESC LIMIT 1) p ON TRUE
""",
        "rel_asof_join_nulls": """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, event_id AS pid,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value,
       CASE WHEN event_id % 3 = 1 THEN NULL ELSE event_id % 7 END AS qty
  FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, floor(epoch(c.ts))::BIGINT AS ts_epoch,
       floor(epoch(p.ts))::BIGINT AS p_ts_epoch, p.pid AS p_event_id,
       CAST(round(p.value * 10000) AS BIGINT) AS p_value_q,
       p.qty::BIGINT AS p_qty
FROM clicks c LEFT JOIN LATERAL (
  SELECT * FROM purch p WHERE p.user_id = c.user_id AND p.ts <= c.ts
  ORDER BY p.ts DESC, p.pid DESC LIMIT 1) p ON TRUE
""",
        "rel_range_join": """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, event_id AS pid, value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, count(*)::BIGINT AS n_purch,
       sum(CAST(round(p.value * 10000) AS BIGINT))::BIGINT AS sum_value_q
FROM clicks c JOIN purch p
  ON p.user_id = c.user_id AND p.ts <= c.ts
 AND floor(epoch(p.ts))::BIGINT >= floor(epoch(c.ts))::BIGINT - 86400
GROUP BY 1, 2
""",
        "stream_windowed_counts": """
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
agg AS (
  SELECT time_bucket(INTERVAL 1 DAY, ts) AS ws, event_type, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2)
SELECT epoch(ws)::BIGINT AS ws_epoch,
       epoch(ws + INTERVAL 1 DAY)::BIGINT AS we_epoch,
       event_type, n_events
FROM agg, wm WHERE ws + INTERVAL 1 DAY <= wm.w
""",
        "stream_stateful_dedupe": """
WITH src AS (
  SELECT source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
         substr(sha256(source || '|' || CAST(doc_id AS VARCHAR)), 1, 40) AS "commit",
         lang, text AS content, sha256(text) AS digest
  FROM documents)
SELECT repo, path, "commit", lang, content, digest FROM (
  SELECT *, row_number() OVER (PARTITION BY digest ORDER BY repo, path, "commit") AS rn
  FROM src)
WHERE rn = 1
""",
        "stream_incremental_postings": f"""
WITH {_TOKS_CTE}
SELECT p.term, p.doc_id, p.tf, s.doc_len
FROM postings p JOIN doc_stats s USING (doc_id)
""",
        "bm25_topk": _bm25_topk_sql(),
        "hybrid_rrf_topk": _hybrid_rrf_sql(),
        # lossless pruning: the WAND path answers the SAME oracle
        "bm25_wand_topk": _bm25_topk_sql(),
        "ir_postings_tf": f"""
WITH {_TOKS_CTE}
SELECT p.term, p.doc_id, p.tf, s.doc_len
FROM postings p JOIN doc_stats s USING (doc_id)
""",
        "ir_doc_stats_sha256": f"""
WITH {_TOKS_CTE}
SELECT d.doc_id, s.doc_len, sha256(d.text) AS sha256
FROM documents d JOIN doc_stats s USING (doc_id)
""",
        "ir_corpus_stats": f"""
WITH {_TOKS_CTE}
SELECT n_docs, CAST(round(avgdl * 10000) AS BIGINT) AS avgdl_q FROM corpus
""",
        "ir_term_df": f"WITH {_TOKS_CTE} SELECT term, df FROM term_stats",
        "ir_phrase_match": _phrase_match_sql(),
        "ir_proximity_match": _proximity_match_sql(),
        "ir_phrase_ranked_topk": _phrase_ranked_sql(),
        "ir_boolean_match": _boolean_match_sql(),
        "ir_filtered_topk": _filtered_topk_sql(),
    }
