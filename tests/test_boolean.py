"""query/boolean.py: the boolean algebra on both hosts (boolean_match_stored
and boolean_match_local against token membership), and the one filter
route. A boolean filter's allowed set reaches the scoring decode as a docno
bitmap on both hosts (StoredIndex's in-process route and filtered_top_k's
Spark route); results are pinned against a test-side semi-join plan and the
pure-Python oracle."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from goldenretriever_spark.query import wand
from goldenretriever_spark.query.boolean import (
    boolean_match_local,
    boolean_match_stored,
    filtered_top_k,
)

ROUTES = ("local", "spark")


def test_boolean_match_stored_semantics(spark):
    """Boolean retrieval over packed blocks vs a direct token-membership
    recomputation, on both hosts over the same blocks: conjunction,
    disjunction with min_should_match, negation, the must+should hit-count
    case, a term in both must and should, must ∩ must_not (no doc), an
    explicit min_should_match=0 beside must, and must_not terms absent from
    the index."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.tokenizer import simple_tokens

    docs = with_doc_ids(spark.createDataFrame(corpus.synth_corpus_pandas(150, seed=5)))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200, n_term_buckets=8).cache()
    block_rows = blocks.select("term", "docnos_delta_varint").toPandas()
    doc_id_of = {r["docno"]: r["doc_id"] for r in idx.doc_stats.collect()}
    tk = docs.select("doc_id", simple_tokens(F.col("content")).alias("tk")).cache()

    def truth(must=(), should=(), must_not=(), msm=None):
        if msm is None:
            msm = 1 if not must else 0
        nsh = None
        for t in should:
            c = F.array_contains("tk", t).cast("long")
            nsh = c if nsh is None else nsh + c
        nsh = nsh if nsh is not None else F.lit(0).cast("long")
        cond = F.lit(True)
        for t in must:
            cond = cond & F.array_contains("tk", t)
        for t in must_not:
            cond = cond & ~F.array_contains("tk", t)
        out = tk.withColumn("n_should_hit", nsh).filter(cond)
        if msm > 0:
            out = out.filter(F.col("n_should_hit") >= msm)
        return sorted((r["doc_id"], r["n_should_hit"]) for r in out.collect())

    # (clauses, whether some doc must match)
    cases = [
        (dict(must=["def", "return"], must_not=["todo"]), True),
        (dict(should=["def", "import", "return"], min_should_match=2), True),
        (dict(must=["import"], should=["os", "sys"]), True),
        (dict(should=["zzz_absent", "def"]), True),  # disjunction default msm=1
        (dict(must=["def"], should=["def", "import"]), True),  # term in must and should
        (dict(must=["def", "import"], must_not=["import"]), False),  # must ∩ must_not
        (dict(must=["return"], should=["def", "class"], min_should_match=0), True),
        (dict(must=["def"], must_not=["zzz_absent", "qqq_absent"]), True),
    ]
    for spec, matches in cases:
        want = truth(
            spec.get("must", ()), spec.get("should", ()), spec.get("must_not", ()),
            spec.get("min_should_match"),
        )
        got = sorted(
            (r["doc_id"], r["n_should_hit"])
            for r in to_doc_ids(
                boolean_match_stored(blocks, n_term_buckets=8, **spec), idx.doc_stats
            ).collect()
        )
        assert got == want, spec
        local = boolean_match_local(block_rows, **spec)
        assert local.dtype == np.int64 and list(local) == sorted(local), spec
        assert sorted(doc_id_of[d] for d in local) == [d for d, _ in want], spec
        assert bool(got) == matches, f"case must be {'non-' * matches}trivial: {spec}"

    for clauses in (dict(must_not=["def"]), dict(should=["a"], min_should_match=2)):
        with pytest.raises(ValueError):
            boolean_match_stored(blocks, **clauses)
        with pytest.raises(ValueError):
            boolean_match_local(block_rows, **clauses)
    blocks.unpersist()
    tk.unpersist()


def test_filtered_top_k_semantics(spark, tmp_path, route):
    """Filter-BEFORE-rank, on both routes: the returned top-k must equal
    ranking the full candidate score set restricted to boolean-qualifying
    docs — and must DIFFER from post-filtering the unfiltered top-k when the
    filter is selective (the semantic the function exists for)."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.tokenizer import simple_tokens

    docs = with_doc_ids(spark.createDataFrame(corpus.synth_corpus_pandas(200, seed=8)))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=32, target_docs_per_group=1000, n_term_buckets=8)
    idx_path = str(tmp_path / "idx")
    write_index(idx, idx_path, blocks=blocks, n_term_buckets=8)
    stored = StoredIndex(spark, idx_path)

    qlist = [(0, "def return"), (1, "import os")]
    must, must_not = ["todo"], ["hash"]

    got = {
        name: sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in stored.search_filtered(qlist, k=5, must=must, must_not=must_not).collect()
        )
        for name in map(route, ROUTES)
    }

    # truth: full candidate scores, token-membership filter, re-rank
    from pyspark.sql import Window

    terms = bm25.query_terms_df(spark, qlist, tokenizer="simple")
    scored = bm25.score_candidates(idx, terms)
    tk = docs.select("doc_id", simple_tokens(F.col("content")).alias("tk"))
    ok = tk.filter(
        F.array_contains("tk", must[0]) & ~F.array_contains("tk", must_not[0])
    ).select("doc_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in scored.join(ok, "doc_id", "left_semi")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    for name in ROUTES:
        assert got[name] == want, name
    assert want, "filter must leave real matches"

    # filter-then-rank differs from rank-then-filter on a selective filter
    unfiltered = stored.search(qlist, k=5)
    post = sorted(
        (r["query_id"], r["doc_id"])
        for r in unfiltered.join(ok, "doc_id", "left_semi").collect()
    )
    assert post != [(q, d) for q, _, d, _ in want], (
        "test filter is not selective enough to distinguish the semantics"
    )


def _filtered_fixture(spark):
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index

    docs = corpus.synth_corpus(spark, 400, seed=13)
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    blocks = blocks.cache()
    blocks.count()
    queries = [(1, "def return"), (2, "deprecated import"), (3, "return class def")]
    return idx, blocks, queries


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score * 10000)) for r in df.collect())


def _semi_join(spark, idx, blocks, queries, k, **clauses):
    """The reference plan: every candidate's score, semi-joined to the
    boolean doc set, cut by the quantized tie discipline."""
    from goldenretriever_spark.query.wand import rank_top_k, stored_score_candidates

    scored = stored_score_candidates(spark, blocks, idx.corpus_stats, queries)
    allowed = boolean_match_stored(blocks, **clauses)
    return rank_top_k(scored.join(allowed, "doc_id", "left_semi"), k, quantize=True)


def test_filtered_topk_pushdown_matches_semi_join(spark):
    """The bitmap pushdown route (decode-side filtering + the brute/WAND
    dispatcher) returns exactly the semi-join reference's rows."""
    idx, blocks, queries = _filtered_fixture(spark)
    kw = dict(must=["def"], must_not=["deprecated"])
    push = filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    assert _rows(push) == _rows(_semi_join(spark, idx, blocks, queries, 5, **kw))
    assert len(push.collect()) > 0
    blocks.unpersist()


def test_filtered_topk_wand_route_matches_brute(spark, monkeypatch):
    """Forcing the dispatcher to the WAND route (crossover=1 -> every query
    heavy) under the bitmap pushdown returns the semi-join reference's
    filtered top-k: θ seeded from filtered partials is a valid pruning
    threshold."""
    idx, blocks, queries = _filtered_fixture(spark)
    kw = dict(must=["def"], must_not=["deprecated"])
    baseline = _semi_join(spark, idx, blocks, queries, 5, **kw)
    routed = []
    real = wand._wand

    def spy(*args, **kwargs):
        routed.append(args[3])  # allowed_bc
        return real(*args, **kwargs)

    monkeypatch.setattr(wand, "WAND_CROSSOVER_DECODE_ROWS", 1)
    monkeypatch.setattr(wand, "_wand", spy)
    wand_route = filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    assert len(routed) == 1 and routed[0] is not None
    assert _rows(wand_route) == _rows(baseline)
    blocks.unpersist()


# docnos the bitmap layout can get wrong: the first bit, both ends of the
# first byte, bit 63 (the sign bit of a Spark long word), the first bit of
# the second word; plus the last docno of an index whose n_docs is not a
# multiple of 64
N_DOCS = 150
BOUNDARY = {0, 7, 8, 63, 64, N_DOCS - 1}


@pytest.fixture(scope="module")
def boundary_index(spark, tmp_path_factory):
    """(StoredIndex, {doc_id: content}) over N_DOCS docs whose doc_id rank,
    i.e. docno, is r for the r-th doc: the BOUNDARY docs contain ``keep``
    and one ``alpha``, every other doc three ``alpha``s, so a filter that
    lets a neighbour of a boundary docno through changes the top-k."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    docs = {
        r * 1_000_003 - 75_000_000: (
            f"alpha keep beta{r % 3}" if r in BOUNDARY else f"alpha alpha alpha beta{r % 3}"
        )
        for r in range(N_DOCS)
    }
    frame = spark.createDataFrame(
        [(d, "r", str(d), "c", "py", c) for d, c in docs.items()],
        "doc_id long, repo string, path string, commit string, lang string, content string",
    )
    idx = build_index(frame, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    path = str(tmp_path_factory.mktemp("bitmap") / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=64)
    idx.postings.unpersist()
    return StoredIndex(spark, path), docs


def _oracle_filtered(docs, query, k, ok):
    from goldenretriever_spark.oracle import build_oracle_index
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    scored = oracle_top_k(build_oracle_index(list(docs.items())), query, k=10**6)
    # Spark's round is HALF_UP and scores are positive
    quantized = sorted(
        (ds for ds in scored if ok(ds[0])),
        key=lambda ds: (-math.floor(ds[1] * 10000 + 0.5), ds[0]),
    )
    return quantized[:k]


def test_bitmap_boundary_docnos_on_both_routes(boundary_index, route):
    """Filters whose allowed docnos are exactly BOUNDARY (must) or exactly
    its complement (must_not) return the oracle's filtered top-k on both
    routes."""
    stored, docs = boundary_index
    by_rank = sorted(docs)
    numbered = {r["doc_id"]: r["docno"] for r in stored.doc_stats.collect()}
    assert {numbered[by_rank[r]] for r in BOUNDARY} == BOUNDARY
    assert N_DOCS % 64
    cases = [
        (dict(must=["keep"]), lambda d: by_rank.index(d) in BOUNDARY, 10),
        (
            dict(should=["alpha"], must_not=["keep"]),
            lambda d: by_rank.index(d) not in BOUNDARY,
            N_DOCS,
        ),
    ]
    for name in map(route, ROUTES):
        for clauses, ok, k in cases:
            want = _oracle_filtered(docs, "alpha beta1", k, ok)
            got = sorted(
                stored.search_filtered([(0, "alpha beta1")], k=k, **clauses).collect(),
                key=lambda r: r["rank"],
            )
            assert [r["rank"] for r in got] == list(range(1, len(want) + 1)), (name, clauses)
            assert [r["doc_id"] for r in got] == [d for d, _ in want], (name, clauses)
            for r, (_, score) in zip(got, want):
                assert math.isclose(r["score"], score, rel_tol=1e-12), (name, clauses)


def test_filter_bitmap_is_n_docs_over_8_bytes(boundary_index, route, monkeypatch):
    """Both routes hand the decode the same bitmap, ceil(n_docs/8) bytes
    with exactly the allowed docnos set; on the Spark route it is the
    broadcast passed into the dispatcher."""
    from goldenretriever_spark.query import boolean

    stored, _ = boundary_index
    seen = {}
    real_dispatch, real_local = wand.dispatch_top_k, wand.local_top_k

    def spy_dispatch(*args, **kwargs):
        seen["spark"] = kwargs["allowed_bc"].value
        return real_dispatch(*args, **kwargs)

    def spy_local(blocks, qtoks, stats, k, allowed=None, quantize=False):
        seen["local"] = allowed
        return real_local(blocks, qtoks, stats, k, allowed, quantize)

    monkeypatch.setattr(wand, "dispatch_top_k", spy_dispatch)
    monkeypatch.setattr(wand, "local_top_k", spy_local)
    for name in map(route, ROUTES):
        assert stored.search_filtered([(0, "alpha")], k=3, must=["keep"]).collect(), name
    for name in ROUTES:
        bitmap = seen[name]
        assert bitmap.dtype == np.uint8 and bitmap.nbytes == math.ceil(N_DOCS / 8), name
        assert set(np.flatnonzero(np.unpackbits(bitmap, bitorder="little"))) == BOUNDARY
    assert np.array_equal(seen["spark"], seen["local"])
    assert np.array_equal(
        seen["local"], boolean.docno_bitmap(np.array(sorted(BOUNDARY)), N_DOCS)
    )


def test_filter_matching_no_doc_returns_no_rows(boundary_index, route):
    """A filter no document passes (an all-zero bitmap) returns no rows."""
    stored, _ = boundary_index
    for name in map(route, ROUTES):
        out = stored.search_filtered([(0, "alpha")], k=5, must=["keep", "zzzunknown"])
        assert out.collect() == [], name
