"""The per-call serve path of a persisted index (StoredIndex): edge-case
results pinned against the pure-Python oracle on both serve routes (the
in-process ``local`` route and the Spark routes), driver-built frames
planned as Arrow local relations, the content join-back of ``search`` and
``search_hybrid`` through both of its fetches, and the per-call Spark job
budgets (none to open a handle and read its stats)."""

import math

import pytest
from pyspark.sql import functions as F

from goldenretriever_spark.query import wand
from goldenretriever_spark.query.bm25 import query_terms_df

ROUTES = ("local", "spark")


@pytest.fixture(scope="module")
def documents(spark):
    """One 400-doc synthetic corpus with its doc ids."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import with_doc_ids

    return with_doc_ids(corpus.synth_corpus(spark, 400, seed=13))


def _write(documents, path: str, positional: bool) -> None:
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import write_index

    idx = build_index(documents, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    pos = pack_positional_blocks(documents, postings=idx.postings) if positional else None
    write_index(idx, path, blocks=blocks, n_term_buckets=64, positional=pos)


@pytest.fixture(scope="module")
def served(spark, documents, tmp_path_factory):
    """(StoredIndex, OracleIndex) over the ``documents`` corpus; the index
    has no positional blocks."""
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.oracle import build_oracle_index

    path = str(tmp_path_factory.mktemp("serve") / "idx")
    _write(documents, path, positional=False)
    oidx = build_oracle_index(
        [(r["doc_id"], r["content"]) for r in documents.select("doc_id", "content").collect()]
    )
    return StoredIndex(spark, path), oidx


@pytest.fixture(scope="module")
def served_positional(spark, documents, tmp_path_factory):
    """A StoredIndex over the same corpus, with positional blocks."""
    from goldenretriever_spark.index.storage import StoredIndex

    path = str(tmp_path_factory.mktemp("serve_pos") / "idx")
    _write(documents, path, positional=True)
    return StoredIndex(spark, path)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _jobs(spark, group: str, call):
    """``call()``'s result and the number of Spark jobs it ran, counted
    under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("query", ["", "zzzunknownterm"])
def test_empty_or_unknown_query_returns_no_rows(served, route, query):
    stored, _ = served
    for name in map(route, ROUTES):
        ranked, plan = stored.search([(0, query)], k=10, with_plan=True)
        assert (plan["path"] == "local") == (name == "local")
        assert plan["est_rows"] == 0
        assert ranked.collect() == [], name


def test_filtered_search_with_unknown_term_returns_no_rows(served, route):
    stored, _ = served
    for name in map(route, ROUTES):
        out = stored.search_filtered([(0, "zzzunknownterm")], k=10, must=["def"])
        assert out.collect() == [], name


def test_k_above_match_count_returns_every_match_in_oracle_order(served, route):
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    stored, oidx = served
    query = "def return"
    expected = oracle_top_k(oidx, query, k=1000)
    assert 0 < len(expected) < 1000
    for name in map(route, ROUTES):
        ranked, plan = stored.search([(0, query)], k=1000, with_plan=True)
        assert (plan["path"] == "local") == (name == "local")
        assert plan["est_rows"] == sum(oidx.df(t) for t in query.split())
        rows = sorted(ranked.collect(), key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(expected) + 1)), name
        assert [r["doc_id"] for r in rows] == [d for d, _ in expected], name
        for r, (_, score) in zip(rows, expected):
            assert math.isclose(r["score"], score, rel_tol=1e-9, abs_tol=1e-12), name


def test_query_terms_are_a_local_relation(spark):
    plan = _plan(query_terms_df(spark, [(0, "a b")]))
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_wand_theta_frame_is_a_local_relation(served, route, monkeypatch):
    """The θ frame WAND builds from its seed scores is a local relation
    (broadcasting it into phase 2 runs no job)."""
    stored, _ = served
    built = []
    real = wand.local_frame

    def spy(*args, **kwargs):
        df = real(*args, **kwargs)
        built.append(df)
        return df

    route("spark")
    monkeypatch.setattr(wand, "WAND_CROSSOVER_DECODE_ROWS", 1)
    monkeypatch.setattr(wand, "local_frame", spy)
    ranked, plan = stored.search([(0, "def return")], k=5, with_plan=True)
    assert plan["path"] == "wand"
    assert len(ranked.collect()) == 5
    theta = [df for df in built if "theta" in df.columns]
    assert len(theta) == 1
    assert "LocalRelation" in _plan(theta[0])
    assert "LogicalRDD" not in _plan(theta[0])


def test_single_query_search_job_budget(spark, served_positional, documents, route, tmp_path):
    """Spark jobs per call on a warm handle. The local route runs none for a
    ranked-only search, a filtered search, a phrase, or a search with
    content from a bare Parquet table (read in-process), and exactly one for
    a search with content from a derived frame (the ``isin`` collect of the
    ranked ids' rows). A search forced onto the Spark route runs at most 4:
    the query terms, the corpus stats and the df probe add none, and content
    from the Parquet table adds none either. On the Spark route the boolean
    algebra is one scan and one exchange: a filtered search runs at most 6
    (the filter's word exchange and bitmap collect, then the scoring), and
    ``boolean`` at most 3."""
    stored = served_positional
    documents.select("doc_id", "content").write.parquet(str(tmp_path / "content"))
    content = spark.read.parquet(str(tmp_path / "content"))
    derived = content.filter(F.col("doc_id") != 0)
    q = [(0, "class import")]
    stored.search([(0, "def return")], k=10).collect()  # memoize handle metadata
    calls = [
        ("search", 0, lambda: stored.search(q, k=10).collect()),
        ("search_filtered", 0, lambda: stored.search_filtered(
            q, k=10, must=["def"], must_not=["return"]).collect()),
        ("phrase", 0, lambda: stored.phrase(["def", "return"]).collect()),
        ("search_documents", 0, lambda: stored.search(q, k=10, documents=content).collect()),
        ("search_derived", 1, lambda: stored.search(q, k=10, documents=derived).collect()),
    ]
    for name, budget, call in calls:
        rows, n = _jobs(spark, f"test_serve_local_{name}", call)
        assert rows, name
        assert n == budget, (name, n)

    route("spark")
    stored.search([(0, "def return")], k=10).collect()  # memoize the Spark reads
    rows, ranked_jobs = _jobs(spark, "test_serve_spark_search", calls[0][2])
    assert len(rows) == 10
    assert ranked_jobs <= 4
    rows, n = _jobs(spark, "test_serve_spark_search_documents", calls[3][2])
    assert len(rows) == 10 and all(r["content"] for r in rows)
    assert n <= ranked_jobs
    rows, n = _jobs(spark, "test_serve_spark_search_filtered", calls[1][2])
    assert rows
    assert n <= 6, n
    rows, n = _jobs(spark, "test_serve_spark_boolean", lambda: stored.boolean(
        must=["def"], must_not=["return"]).collect())
    assert rows
    assert n <= 3, n


def test_opening_a_handle_and_reading_stats_runs_no_job(spark, served):
    """A handle reads _meta and corpus_stats in-process: opening one and
    reading its stats runs no Spark job (the empty corpus's (0, 0.0):
    test_empty_corpus_builds_and_serves)."""
    from goldenretriever_spark.index.storage import StoredIndex

    stored, oidx = served
    stats, n = _jobs(spark, "test_serve_stats", lambda: StoredIndex(spark, stored.path).stats)
    assert n == 0
    assert stats[0] == oidx.n_docs
    assert math.isclose(stats[1], oidx.avgdl, rel_tol=1e-12)


def test_warm_search_with_content_parses_no_schema(spark, served, documents, monkeypatch, tmp_path):
    """The serve calls' result schemas are built once, at import: a warm
    local search(documents=) over a Parquet table parses no DDL string
    (StructType.fromDDL goes through the JVM on every call)."""
    from pyspark.sql.types import StructType

    stored, _ = served
    documents.select("doc_id", "content").write.parquet(str(tmp_path / "content"))
    content = spark.read.parquet(str(tmp_path / "content"))
    q = [(0, "def return")]
    stored.search(q, k=10, documents=content).collect()  # warm the handle's memos
    parsed = []
    real = StructType.fromDDL
    monkeypatch.setattr(
        StructType, "fromDDL", classmethod(lambda cls, ddl: parsed.append(ddl) or real(ddl))
    )
    assert stored.search(q, k=10, documents=content).collect()
    assert parsed == []


def test_empty_filter_raises(served, route):
    stored, _ = served
    for name in map(route, ROUTES):
        with pytest.raises(ValueError):
            stored.search_filtered([(0, "def return")], k=10, must=None, should=None)


def test_all_matching_filter_returns_oracle_quantized_top_k(served, route):
    """A filter every candidate passes (should= the query's own terms)
    leaves the ranking alone: the rows are the oracle's top-k in the
    quantized (score_q desc, doc_id asc) order."""
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    stored, oidx = served
    query, k = "def return", 10
    every = oracle_top_k(oidx, query, k=10**6)
    expected = _quantized(every)[:k]
    for name in map(route, ROUTES):
        rows = sorted(
            stored.search_filtered([(0, query)], k=k, should=["def", "return"]).collect(),
            key=lambda r: r["rank"],
        )
        assert [r["rank"] for r in rows] == list(range(1, k + 1)), name
        assert [r["doc_id"] for r in rows] == [d for d, _ in expected], name
        for r, (_, score) in zip(rows, expected):
            assert math.isclose(r["score"], score, rel_tol=1e-9, abs_tol=1e-12), name


def _quantized(scored):
    """(doc_id, score) pairs in the quantized cut's order: Spark's round is
    HALF_UP and scores are positive."""
    return sorted(scored, key=lambda ds: (-math.floor(ds[1] * 10000 + 0.5), ds[0]))


def test_missing_bucket_partition_prunes_to_no_rows(spark, served, route, tmp_path):
    """A copy of the index with one posting_blocks/term_bucket=b directory
    deleted: a query whose terms all hash to b returns no rows without
    raising, and a query with no term in b returns the full index's rows."""
    import os
    import shutil

    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.xxh64 import term_bucket

    stored, _ = served
    b = term_bucket("def", 64)
    other = "class import"
    assert all(term_bucket(t, 64) != b for t in other.split())
    path = str(tmp_path / "idx")
    shutil.copytree(stored.path, path)
    shutil.rmtree(os.path.join(path, "posting_blocks", f"term_bucket={b}"))

    def rows(handle):
        return sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in handle.search([(0, other)], k=10).collect()
        )

    for name in map(route, ROUTES):
        broken = StoredIndex(spark, path)
        assert broken.search([(0, "def")], k=10).collect() == [], name
        want = rows(stored)
        assert len(want) == 10
        assert rows(broken) == want, name


def test_calls_without_terms_open_no_block_file(spark, served, route, tmp_path):
    """A blank query and an empty filter read no posting block file on
    either route: on an index copy whose posting_blocks files are all
    corrupt, the blank search returns no rows and the empty filter raises
    its clause ValueError before any read."""
    import os
    import shutil

    from goldenretriever_spark.index.storage import StoredIndex

    stored, _ = served
    path = str(tmp_path / "idx")
    shutil.copytree(stored.path, path)
    for root, _, files in os.walk(os.path.join(path, "posting_blocks")):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as out:
                    out.write(b"not parquet")
    for name in map(route, ROUTES):
        broken = StoredIndex(spark, path)
        assert broken.search([(0, "")], k=10).collect() == [], name
        with pytest.raises(ValueError, match="must or should"):
            broken.search_filtered([(0, "def")], k=10, must=None, should=None)


def test_uri_index_path_serves_from_its_filesystem(spark, served_positional, route):
    """A ``file://`` URI opens the same index as its plain path: the
    positional check and the in-process reads resolve the URI's filesystem,
    and every route returns the plain path's rows."""
    from goldenretriever_spark.index.storage import StoredIndex

    uri = StoredIndex(spark, "file://" + served_positional.path)
    assert uri.has_positional()
    for name in map(route, ROUTES):
        assert sorted(uri.phrase(["def", "return"]).collect()) == sorted(
            served_positional.phrase(["def", "return"]).collect()
        ), name
        assert sorted(uri.search([(0, "def return")], k=10).collect()) == sorted(
            served_positional.search([(0, "def return")], k=10).collect()
        ), name


def test_dataframe_query_batch_raises_type_error(spark, served):
    stored, _ = served
    batch = spark.createDataFrame([(0, "def")], "query_id long, query_str string")
    with pytest.raises(TypeError):
        stored.search(batch, k=10)


def _content_inputs(spark, documents, tmp_path, dropped, duplicated):
    """One content table, ``documents`` without the doc ``dropped`` and with
    the doc ``duplicated`` twice, as each kind of ``documents=`` frame:
    fetch name -> (frame, the fetch it takes). ``files`` is a bare Parquet
    scan, ``spark`` the derived frame it was written from, ``partitioned``
    the same rows in a ``partitionBy`` Parquet table."""
    base = documents.select("doc_id", "content")
    derived = base.filter(F.col("doc_id") != dropped).unionByName(
        base.filter(F.col("doc_id") == duplicated)
    )
    derived.write.parquet(str(tmp_path / "content"))
    derived.withColumn("part", F.col("doc_id") % 3).write.partitionBy("part").parquet(
        str(tmp_path / "content_partitioned")
    )
    partitioned = spark.read.parquet(str(tmp_path / "content_partitioned"))
    return {
        "files": (spark.read.parquet(str(tmp_path / "content")), "files"),
        "spark": (derived, "spark"),
        "partitioned": (partitioned.select("doc_id", "content"), "spark"),
    }


def test_content_joinback_keeps_every_ranked_row(spark, served, documents, route, tmp_path):
    """search(documents=) joins content back onto every ranked row, on both
    routes and through both content fetches: with one query's rank-1 doc
    missing from the content table and another ranked doc in it twice, all
    n_queries x k ranked rows come back, in rank order, once per matching
    content row; exactly the missing doc's rows have null content. The
    in-process fetch of a bare Parquet table and the Spark fetch of the
    derived and the partitioned frames return the same rows and schema."""
    stored, _ = served
    qlist, k = [(0, "def return"), (1, "class import")], 8
    truth = {r["doc_id"]: r["content"] for r in documents.select("doc_id", "content").collect()}
    key = ("query_id", "rank", "doc_id", "score")

    def ranked(df):
        return sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"]))

    bare = ranked(stored.search(qlist, k=k))
    assert (bare[0]["query_id"], bare[0]["rank"]) == (0, 1)
    dropped, duplicated = bare[0]["doc_id"], bare[1]["doc_id"]
    inputs = _content_inputs(spark, documents, tmp_path, dropped, duplicated)
    for name in map(route, ROUTES):
        assert ranked(stored.search(qlist, k=k)) == bare, name
        got = {}
        for fetch, (content, want_fetch) in inputs.items():
            out, plan = stored.search(qlist, k=k, documents=content, with_plan=True)
            assert plan["content"] == want_fetch, (name, fetch)
            rows = ranked(out)
            if name == "local":  # the local ranking's row order, kept by the join
                assert out.collect() == rows, fetch
            copies = [2 if r["doc_id"] == duplicated else 1 for r in bare]
            assert len(rows) == sum(copies), (name, fetch)
            assert [tuple(r[c] for c in key) for r in rows] == [
                tuple(r[c] for c in key) for r, n in zip(bare, copies) for _ in range(n)
            ], (name, fetch)
            for qid, _ in qlist:
                ranks = [r["rank"] for r in rows if r["query_id"] == qid]
                assert sorted(set(ranks)) == list(range(1, k + 1)), (name, fetch)
            assert all(
                r["content"] == (None if r["doc_id"] == dropped else truth[r["doc_id"]])
                for r in rows
            ), (name, fetch)
            got[fetch] = (out.schema, rows)
        assert got["files"] == got["spark"] == got["partitioned"], name


def test_empty_ranked_result_reads_no_content_file(spark, served, documents, route, tmp_path):
    """A search that ranks nothing fetches no content: with the bare
    Parquet content table's files overwritten by junk after the frame was
    planned, a query of unknown terms returns no rows on both routes and
    both fetches, without raising."""
    import os

    stored, _ = served
    path = tmp_path / "content"
    documents.select("doc_id", "content").write.parquet(str(path))
    inputs = {"files": spark.read.parquet(str(path))}
    inputs["spark"] = inputs["files"].filter(F.col("doc_id") != 0)
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            (path / f).write_bytes(b"not parquet")
    for name in map(route, ROUTES):
        for fetch, content in inputs.items():
            out, plan = stored.search(
                [(0, "zzzunknownterm")], k=10, documents=content, with_plan=True
            )
            assert plan["content"] == fetch, (name, fetch)
            assert out.collect() == [], (name, fetch)
            assert out.columns == ["query_id", "doc_id", "score", "rank", "content"]


def test_stored_search_content_joinback(spark, tmp_path):
    """search(documents=...) must return the SAME ranking as ranked-only
    search plus the matching content string for every row (reference
    make_query returns answer strings, models.py:137-149), through both
    content fetches: a driver-built frame and the same rows as a Parquet
    table."""
    import hashlib

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    raw = spark.createDataFrame(corpus.synth_corpus_pandas(120, seed=23))
    docs = with_doc_ids(raw).select("doc_id", "content")
    docs.write.parquet(str(tmp_path / "content"))
    idx = build_index(raw, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=50)
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=8)
    stored = StoredIndex(spark, path)

    qlist = [(0, "def return"), (1, "cache_buffer")]
    ranked, plan = stored.search(qlist, k=5, with_plan=True)
    assert plan["content"] is None
    ranked_rows = {(r["query_id"], r["rank"]): r["doc_id"] for r in ranked.collect()}
    truth = {r["doc_id"]: r["content"] for r in docs.collect()}
    inputs = {"spark": docs, "files": spark.read.parquet(str(tmp_path / "content"))}
    for fetch, content in inputs.items():
        with_content, content_plan = stored.search(
            qlist, k=5, documents=content, with_plan=True
        )
        assert content_plan["content"] == fetch
        rows = with_content.collect()
        assert {(r["query_id"], r["rank"]): r["doc_id"] for r in rows} == ranked_rows
        for r in rows:
            assert r["content"] == truth[r["doc_id"]]
            assert hashlib.sha256(r["content"].encode()).hexdigest()  # non-empty
    assert plan["path"] == "local"


def test_stored_search_hybrid(spark, tmp_path):
    """search_hybrid must equal rrf_fuse of the independently computed legs
    (same stored lexical search, same brute cosine top-k), and the
    documents join-back must carry the matching content for every row,
    from a driver-built frame and from the same rows as a Parquet table."""
    import numpy as np
    import pandas as pd

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.operators.ann import brute_topk
    from goldenretriever_spark.query.hybrid import rrf_fuse

    raw = spark.createDataFrame(corpus.synth_corpus_pandas(100, seed=29))
    docs = with_doc_ids(raw).select("doc_id", "content")
    idx = build_index(raw, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=50)
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=8)
    stored = StoredIndex(spark, path)

    # embeddings over the SAME doc_id space, deterministic
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    rng = np.random.default_rng(7)
    emb_pd = pd.DataFrame(
        {"vec_id": ids, "embedding": [rng.standard_normal(8).tolist() for _ in ids]}
    )
    emb = spark.createDataFrame(emb_pd)
    qvecs = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [0, 1], "qvec": [emb_pd["embedding"][0], emb_pd["embedding"][1]]}
        )
    )

    qlist = [(0, "def return"), (1, "cache_buffer")]
    got = stored.search_hybrid(qlist, qvecs, emb, k=5)

    lex = stored.search(qlist, k=5).select("query_id", "doc_id", "rank")
    vec = brute_topk(emb, qvecs, k=5).selectExpr(
        "query_id", "vec_id AS doc_id", "rnk AS rank"
    )
    want = rrf_fuse([lex, vec], k=5)
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(got) == as_set(want)
    assert got.count() > 0

    # join-back carries content and preserves the ranking, on both fetches
    docs.write.parquet(str(tmp_path / "content"))
    truth = {r["doc_id"]: r["content"] for r in docs.collect()}
    fused = {(r["query_id"], r["rank"]): r["doc_id"] for r in got.collect()}
    for content in (docs, spark.read.parquet(str(tmp_path / "content"))):
        withc = stored.search_hybrid(qlist, qvecs, emb, k=5, documents=content)
        rows = withc.collect()
        assert {(r["query_id"], r["rank"]): r["doc_id"] for r in rows} == fused
        for r in rows:
            assert r["content"] == truth[r["doc_id"]]
        assert withc.columns == ["query_id", "doc_id", "rrf_q", "rank", "content"]


def test_empty_corpus_builds_and_serves(spark, documents, route, tmp_path):
    """An index built from zero documents has stats (0, 0.0), and search,
    filtered search and phrase each return no rows without raising."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    docs = documents.limit(0)
    idx = build_index(docs, tokenizer="simple")
    path = str(tmp_path / "idx")
    write_index(
        idx,
        path,
        blocks=pack_blocks(idx),
        positional=pack_positional_blocks(docs, postings=idx.postings),
    )
    stats, n = _jobs(spark, "test_serve_empty_stats", lambda: StoredIndex(spark, path).stats)
    assert (stats, n) == ((0, 0.0), 0)
    term_stats = StoredIndex(spark, path).term_stats
    assert term_stats.count() == 0
    assert term_stats.schema.simpleString() == "struct<term:string,df:bigint,term_bucket:int>"
    for name in map(route, ROUTES):
        stored = StoredIndex(spark, path)
        assert stored.stats == (0, 0.0)
        assert stored.search([(0, "def return")], k=10).collect() == [], name
        assert stored.search_filtered([(0, "def")], k=10, must=["return"]).collect() == []
        assert stored.phrase(["def", "return"]).collect() == [], name


def test_positional_calls_without_positional_blocks_raise_value_error(served):
    """phrase, proximity and phrase_ranked on an index written without
    positional blocks raise one ValueError naming the missing table, before
    any route runs."""
    stored, _ = served
    assert not stored.has_positional()
    calls = [
        lambda: stored.phrase(["def", "return"]),
        lambda: stored.proximity(["def", "return"], 3),
        lambda: stored.phrase_ranked([(0, ["def", "return"])], k=5),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="positional_blocks"):
            call()


def test_local_route_matches_spark_route_and_oracle(served_positional, documents, route):
    """On the 400-doc index the local route returns the Spark route's rows
    and ranks, and both equal the oracle's, scores within 1e-12 relative:
    a 2-query search, a must + must_not filtered search, a should filter
    with min_should_match=2, and a phrase with a repeated term."""
    from goldenretriever_spark.oracle import build_oracle_index, tokenize
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    stored = served_positional
    docs = {r["doc_id"]: r["content"] for r in documents.select("doc_id", "content").collect()}
    oidx = build_oracle_index(list(docs.items()))
    toks = {d: tokenize(c) for d, c in docs.items()}
    qlist, k = [(0, "def return"), (1, "class import self")], 10
    must, must_not = ["def"], ["import"]
    should = ["def", "return", "class"]
    phrase = ["def", "return", "def"]

    def search_rows():
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in stored.search(qlist, k=k).collect()
        )

    def filtered_rows(**clauses):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in stored.search_filtered(qlist, k=k, **clauses).collect()
        )

    calls = {
        "search": search_rows,
        "must_not": lambda: filtered_rows(must=must, must_not=must_not),
        "should": lambda: filtered_rows(should=should, min_should_match=2),
        "phrase": lambda: sorted(tuple(r) for r in stored.phrase(phrase).collect()),
    }

    def oracle_filtered(ok):
        return sorted(
            (qid, rank, d, s)
            for qid, q in qlist
            for rank, (d, s) in enumerate(
                _quantized([ds for ds in oracle_top_k(oidx, q, k=10**6) if ok(ds[0])])[:k],
                start=1,
            )
        )

    def occurrences(d):
        t, n = toks[d], len(phrase)
        return sum(t[i : i + n] == phrase for i in range(len(t) - n + 1))

    oracle = {
        "search": sorted(
            (qid, rank, d, s)
            for qid, q in qlist
            for rank, (d, s) in enumerate(oracle_top_k(oidx, q, k=k), start=1)
        ),
        "must_not": oracle_filtered(
            lambda d: set(must) <= set(toks[d]) and not set(must_not) & set(toks[d])
        ),
        "should": oracle_filtered(lambda d: len(set(should) & set(toks[d])) >= 2),
        "phrase": sorted((d, n) for d in docs if (n := occurrences(d))),
    }
    assert all(oracle.values())
    assert phrase.count("def") == 2

    got = {name: {call: fn() for call, fn in calls.items()} for name in map(route, ROUTES)}
    for call, want in oracle.items():
        for name in ROUTES:
            rows = got[name][call]
            assert [r[:-1] for r in rows] == [w[:-1] for w in want], (name, call)
            if call == "phrase":
                assert rows == want, name
                continue
            for r, w in zip(rows, want):
                assert math.isclose(r[-1], w[-1], rel_tol=1e-12), (name, call)
        for r, s in zip(got["local"][call], got["spark"][call]):
            assert r[:-1] == s[:-1] and math.isclose(r[-1], s[-1], rel_tol=1e-12), call


def _decoded(path: str, table: str, decode):
    """Every block row of one table of a written index, decoded in-process:
    ``decode(batch) -> (ids, per_row_counts)``, repeated per row's term."""
    import numpy as np
    import pyarrow.dataset as ds

    t = ds.dataset(f"{path}/{table}", format="parquet", partitioning="hive").to_table().to_pandas()
    ids, counts = decode(t)
    return np.repeat(t["term"].to_numpy(), counts), ids


def test_docno_is_the_dense_doc_id_rank_in_every_table(spark, documents, served_positional):
    """docno is the dense signed-order rank of doc_id (doc_stats, written in
    docno order), and one document carries the same docno in
    posting_blocks, positional_blocks and doc_stats: both block tables,
    mapped back through doc_stats, hold exactly the corpus' (term, doc_id)
    postings."""
    import numpy as np
    import pyarrow.dataset as ds

    from goldenretriever_spark.index.codec import decode_doc_ids, decode_position_blocks
    from goldenretriever_spark.tokenizer import simple_tokens

    path = served_positional.path
    stats = ds.dataset(f"{path}/doc_stats", format="parquet").to_table().to_pandas()
    ids = np.sort(np.array([r["doc_id"] for r in documents.select("doc_id").collect()]))
    assert stats["docno"].tolist() == list(range(len(ids)))
    assert stats["doc_id"].tolist() == ids.tolist()
    to_id = dict(zip(stats["docno"], stats["doc_id"]))

    want = {
        (r["term"], r["doc_id"])
        for r in documents.select(
            "doc_id", F.explode(simple_tokens(F.col("content"))).alias("term")
        )
        .distinct()
        .collect()
    }
    terms, docnos = _decoded(
        path, "posting_blocks", lambda t: decode_doc_ids(t["docnos_delta_varint"])
    )
    assert {(t, to_id[d]) for t, d in zip(terms, docnos)} == want
    assert len(docnos) == len(want)

    def positional(t):
        out = decode_position_blocks(
            t["docnos_delta_varint"], t["pos_counts_varint"], t["positions_delta_varint"]
        )
        return out[0], out[2]

    terms, docnos = _decoded(path, "positional_blocks", positional)
    assert {(t, to_id[d]) for t, d in zip(terms, docnos)} == want


def test_duplicated_input_row_gets_one_docno_and_unchanged_results(
    spark, documents, route, tmp_path
):
    """A corpus with one row repeated: doc_stats holds one row (one docno)
    per distinct doc_id, corpus_stats still counts input rows, and both
    serve routes return the rows of the hash-id brute path over the
    in-memory postings, which runs no docno."""
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.bm25 import top_k

    doubled = documents.unionByName(documents.limit(1))
    path = str(tmp_path / "idx")
    _write(doubled, path, positional=True)
    stored = StoredIndex(spark, path)
    assert stored.doc_stats.count() == stored.doc_stats.select("doc_id").distinct().count() == 400
    assert stored.stats[0] == 401
    idx = build_index(doubled)
    query = [(0, "def return import")]
    want = sorted(
        (r["rank"], r["doc_id"], r["score"])
        for r in top_k(idx, query_terms_df(spark, query), k=20).collect()
    )
    for name in map(route, ROUTES):
        got = sorted(
            (r["rank"], r["doc_id"], r["score"]) for r in stored.search(query, k=20).collect()
        )
        assert [g[:2] for g in got] == [w[:2] for w in want], name
        assert all(math.isclose(g[2], w[2], rel_tol=1e-12) for g, w in zip(got, want)), name
    idx.postings.unpersist()


def test_ties_at_the_k_cut_come_back_in_doc_id_order(spark, route, tmp_path):
    """Equal-score documents (identical content) whose input order is the
    reverse of their doc_id order: the k cut keeps the smallest doc_ids, in
    doc_id-asc order, on both routes and for both cuts (raw and quantized)."""
    from goldenretriever_spark.index.build import with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex

    rows = [("r", f"p{i}", "c", "py", "alpha beta gamma") for i in range(12)]
    rows += [("r", f"q{i}", "c", "py", "delta epsilon") for i in range(20)]
    schema = "repo string, path string, commit string, lang string, content string"
    docs = with_doc_ids(spark.createDataFrame(rows, schema))
    order = {r["path"]: r["doc_id"] for r in docs.collect()}
    tied = sorted(order[f"p{i}"] for i in range(12))
    docs = docs.orderBy(F.col("doc_id").desc())
    assert [r["doc_id"] for r in docs.collect()][:3] != tied[:3]
    path = str(tmp_path / "idx")
    _write(docs, path, positional=False)
    stored = StoredIndex(spark, path)
    for name in map(route, ROUTES):
        got = stored.search([(0, "alpha")], k=5).orderBy("rank").collect()
        assert [r["doc_id"] for r in got] == tied[:5], name
        got = stored.search_filtered([(0, "alpha")], k=5, must=["beta"]).orderBy("rank").collect()
        assert [r["doc_id"] for r in got] == tied[:5], name


def _without_format_token(src: str, tmp_path) -> str:
    """A copy of the index at ``src`` whose _meta keeps n_term_buckets but
    lost the format_version token, as every index written before it reads."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "idx")
    shutil.copytree(src, path)
    shutil.rmtree(os.path.join(path, "_meta"))
    os.makedirs(os.path.join(path, "_meta"))
    pq.write_table(
        pa.table({"n_term_buckets": pa.array([64], pa.int32())}),
        os.path.join(path, "_meta", "part-0.parquet"),
    )
    return path


def test_index_without_the_format_token_raises_on_open(spark, served, route, tmp_path):
    """A copy of a v2 index whose _meta lost its format_version token (what
    every index written before the token reads as) raises one ValueError
    naming the format version on both routes, before any read."""
    import os
    import shutil

    from goldenretriever_spark.index.storage import StoredIndex

    stored, _ = served
    path = _without_format_token(stored.path, tmp_path)
    for name in map(route, ROUTES):
        with pytest.raises(ValueError, match="format version"):
            StoredIndex(spark, path).search([(0, "def")], k=10)
        with pytest.raises(ValueError, match="format version"):
            StoredIndex(spark, path).search_filtered([(0, "def")], k=10, must=["return"])
    shutil.rmtree(os.path.join(path, "_meta"))
    with pytest.raises(ValueError, match="format version"):
        StoredIndex(spark, path)


def test_crossover_tool_treats_a_cached_index_without_the_token_as_stale(
    spark, served_positional, tmp_path
):
    """tools/wand_crossover reuses a cached index only when it opens as the
    current format with positional blocks: a copy without the format token,
    or no index at all, is stale and gets rebuilt."""
    from tools.wand_crossover import _cached_index_is_current

    assert _cached_index_is_current(spark, served_positional.path)
    stale = _without_format_token(served_positional.path, tmp_path)
    assert not _cached_index_is_current(spark, stale)
    assert not _cached_index_is_current(spark, str(tmp_path / "missing"))
