"""WAND losslessness (SURVEY §5.2 item 4): block-max pruned top-k must equal
brute-force top-k (and therefore the oracle) on every query, in memory and
from a persisted index; the brute/WAND dispatch; and term-bucket pruning of
the stored brute-force scan."""

import math

import pytest

from goldenretriever_spark import corpus
from goldenretriever_spark.index.blocks import pack_blocks
from goldenretriever_spark.index.build import build_index
from goldenretriever_spark.index.storage import to_doc_ids
from goldenretriever_spark.query import bm25, wand
from goldenretriever_spark.query.wand import wand_top_k

N_DOCS = 250
K = 10


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(corpus.synth_corpus_pandas(N_DOCS, seed=11))
    idx = build_index(docs, tokenizer="simple")
    for df in (idx.postings, idx.doc_stats, idx.corpus_stats, idx.term_stats):
        df.cache().count()
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=60).cache()
    blocks.count()
    return idx, blocks


def _collect_ranked(rows):
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("seed_factor", [1, 4])
def test_wand_equals_brute_force(built, spark, seed_factor, monkeypatch):
    idx, blocks = built
    monkeypatch.setattr(wand, "WAND_SEED_FACTOR", seed_factor)
    queries = corpus.reference_queries(40, seed=5)
    qlist = [(int(r.query_id), r.query_str) for r in queries.itertuples()]

    terms = bm25.query_terms_df(spark, qlist)
    brute = _collect_ranked(bm25.top_k(idx, terms, k=K).collect())
    pruned = _collect_ranked(
        to_doc_ids(wand_top_k(spark, blocks, idx.corpus_stats, qlist, k=K), idx.doc_stats).collect()
    )
    assert set(brute) == set(pruned)
    for qid in brute:
        b, p = brute[qid], pruned[qid]
        assert [d for d, _ in b] == [d for d, _ in p], f"q{qid} docs differ"
        for (_, sb), (_, sp) in zip(b, p):
            assert math.isclose(sb, sp, rel_tol=1e-9), f"q{qid} scores differ"


def test_brute_stored_equals_brute_inmemory(built, spark):
    """The stored-index unpruned baseline (tools/wand_crossover.py contender)
    must decode back to exactly the in-memory brute-force ranking."""
    from goldenretriever_spark.query.wand import brute_top_k_stored

    idx, blocks = built
    queries = corpus.reference_queries(20, seed=5)
    qlist = [(int(r.query_id), r.query_str) for r in queries.itertuples()]
    terms = bm25.query_terms_df(spark, qlist)
    brute = _collect_ranked(bm25.top_k(idx, terms, k=K).collect())
    stored = _collect_ranked(
        to_doc_ids(
            brute_top_k_stored(spark, blocks, idx.corpus_stats, qlist, k=K), idx.doc_stats
        ).collect()
    )
    assert set(brute) == set(stored)
    for qid in brute:
        assert [d for d, _ in brute[qid]] == [d for d, _ in stored[qid]]
        for (_, sb), (_, sp) in zip(brute[qid], stored[qid]):
            assert math.isclose(sb, sp, rel_tol=1e-9)


def test_wand_prunes_something(built, spark):
    """On a skewed corpus the pruning must actually drop blocks for
    multi-term queries with a rare + hot term mix (sanity that phase 2 is not
    a no-op)."""
    from pyspark.sql import functions as F

    idx, blocks = built
    # hot term 'def' + rare-ish identifier: θ from the rare term's high idf
    # should prune deep hot-term blocks
    qlist = [(0, "def cache_buffer")]
    res = wand_top_k(spark, blocks, idx.corpus_stats, qlist, k=5)
    assert res.count() == 5


def test_dispatch_top_k_both_sides(built, spark, monkeypatch):
    """dispatch_top_k must be rank-identical to brute force on BOTH sides of
    the crossover threshold (the dispatch changes the plan, never the answer)."""
    from goldenretriever_spark.query.wand import dispatch_top_k

    idx, blocks = built
    queries = corpus.reference_queries(15, seed=7)
    qlist = [(int(r.query_id), r.query_str) for r in queries.itertuples()]
    terms = bm25.query_terms_df(spark, qlist)
    brute = _collect_ranked(bm25.top_k(idx, terms, k=K).collect())
    # decode-rows crossover above any possible volume -> brute-stored path;
    # at 0 every query clears it -> WAND path; the plan record must confirm
    # the route taken
    for crossover_rows, want_path in ((10**15, "brute_stored"), (0, "wand")):
        monkeypatch.setattr(wand, "WAND_CROSSOVER_DECODE_ROWS", crossover_rows)
        out, plan = dispatch_top_k(spark, blocks, idx.corpus_stats, qlist, k=K)
        assert plan["path"] == want_path, plan
        auto = _collect_ranked(to_doc_ids(out, idx.doc_stats).collect())
        assert set(brute) == set(auto), f"crossover_rows={crossover_rows}"
        for qid in brute:
            assert [d for d, _ in brute[qid]] == [d for d, _ in auto[qid]], (
                f"crossover_rows={crossover_rows} q{qid}"
            )
            for (_, sb), (_, sp) in zip(brute[qid], auto[qid]):
                assert math.isclose(sb, sp, rel_tol=1e-9)


def test_dispatch_is_volume_aware(built, spark, monkeypatch):
    """VERDICT r3 #2: the dispatcher keys on estimated decode volume
    (batch-mean Σdf per query), not corpus size — at the SAME index, a
    1-term batch and a 5-term batch must route to different paths when the
    threshold sits between their mean decode volumes; the plan's per-query
    diagnostic counts (n_above/n_below) must equal the per-query verdicts
    on Σdf taken from the index's term_stats, independently of the blocks
    the dispatcher probes."""
    from goldenretriever_spark.query.wand import dispatch_top_k

    idx, blocks = built
    term_df = {r["term"]: int(r["df"]) for r in idx.term_stats.collect()}
    mean_rows = {}
    per_query = {}
    batches = {}
    for qlen in (1, 5):
        qs = corpus.fixed_length_queries(20, n_terms=qlen, seed=3)
        qlist = [(int(r.query_id), r.query_str) for r in qs.itertuples()]
        batches[qlen] = qlist
        rows = {qid: 0 for qid, _ in qlist}
        for r in bm25.query_terms_df(spark, qlist).collect():
            rows[r["query_id"]] += term_df.get(r["term"], 0)
        per_query[qlen] = rows
        mean_rows[qlen] = sum(rows.values()) / len(rows)
    assert mean_rows[1] < mean_rows[5]
    # threshold above EVERY 1-term volume (their heavy share must be 0 ->
    # brute) and low enough that 5-term queries hold >= the min heavy share
    # of their batch's volume (-> wand)
    threshold = max(
        max(per_query[1].values()) + 1, int((mean_rows[1] + mean_rows[5]) / 2)
    )
    share5 = sum(v for v in per_query[5].values() if v >= threshold) / sum(
        per_query[5].values()
    )
    assert share5 >= 0.2, f"generator drift: 5-term heavy share {share5}"

    monkeypatch.setattr(wand, "WAND_CROSSOVER_DECODE_ROWS", threshold)
    paths = {}
    for qlen, qlist in batches.items():
        out, plan = dispatch_top_k(spark, blocks, idx.corpus_stats, qlist, k=K)
        paths[qlen] = plan["path"]
        if plan["probed"]:
            want_above = sum(1 for v in per_query[qlen].values() if v >= threshold)
            assert plan["n_above"] == want_above, plan
            assert plan["n_above"] + plan["n_below"] == len(qlist)
            want_share = sum(
                v for v in per_query[qlen].values() if v >= threshold
            ) / sum(per_query[qlen].values())
            assert abs(plan["heavy_volume_share"] - want_share) < 1e-3, plan
        # whichever route: still rank-identical to brute force
        terms = bm25.query_terms_df(spark, qlist)
        brute = _collect_ranked(bm25.top_k(idx, terms, k=K).collect())
        auto = _collect_ranked(to_doc_ids(out, idx.doc_stats).collect())
        for qid in brute:
            assert [d for d, _ in brute[qid]] == [d for d, _ in auto[qid]]
    assert paths == {1: "brute_stored", 5: "wand"}


def test_pruned_stored_search_matches_unpruned(spark, tmp_path):
    """Bucket pruning through the Python twin returns the same top-k as an
    unpruned scan of the same persisted index."""
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.query.wand import brute_top_k_stored

    docs = corpus.synth_corpus(spark, 300, seed=11)
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=64)
    stored = StoredIndex(spark, path)
    queries = [(1, "def user query"), (2, "hash merge index"), (3, "return")]
    pruned = brute_top_k_stored(
        spark, stored.posting_blocks, stored.corpus_stats, queries,
        k=5, n_term_buckets=stored.n_term_buckets,
    ).collect()
    unpruned = brute_top_k_stored(
        spark, stored.posting_blocks, stored.corpus_stats, queries,
        k=5, n_term_buckets=None,
    ).collect()
    assert sorted(((r.query_id, r.rank, r.doc_id) for r in pruned)) == sorted(
        ((r.query_id, r.rank, r.doc_id) for r in unpruned)
    )
    assert len(pruned) > 0


def test_stored_index_wand_roundtrip(spark, tmp_path):
    """write_index + StoredIndex + WAND over the stored blocks == brute."""
    from goldenretriever_spark.index.storage import StoredIndex, to_doc_ids, write_index

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(120, seed=21))
    idx = build_index(docs)
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=64, n_term_buckets=8)
    write_index(idx, str(tmp_path), blocks=blocks, n_term_buckets=8)

    stored = StoredIndex(spark, str(tmp_path))
    # bucket count must come from the persisted _meta, never a guessed default
    assert stored.n_term_buckets == 8
    qlist = [(0, "def return"), (1, "cache buffer stream")]
    got = to_doc_ids(
        wand_top_k(
            spark, stored.posting_blocks, stored.corpus_stats, qlist, k=5,
            n_term_buckets=stored.n_term_buckets,
        ),
        stored.doc_stats,
    ).collect()
    brute = bm25.top_k(idx, bm25.query_terms_df(spark, qlist), k=5).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)  # noqa: E731
    assert key(got) == key(brute)
