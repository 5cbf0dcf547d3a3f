"""Round-4 regression tests (VERDICT r3 next-steps + ADVICE r3 items):
as-of join atomic null carry, codec zero-count runs, trained IVF,
vectorized multimodal features, streaming dedupe TTL, volume-aware WAND
dispatch."""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _t(m: int) -> datetime:
    return datetime(2024, 1, 1, 0, m)


def test_as_of_join_null_carry_atomic(spark):
    """ADVICE r3 (medium): carried right columns with nulls must arrive as
    ONE atomic row — the latest right row including its nulls — not a
    per-column forward fill that splices values from different rows."""
    from goldenretriever_spark.operators.temporal import as_of_join

    left = spark.createDataFrame(
        [(1, "u1", _t(30)), (2, "u1", _t(1))],
        "event_id long, user_id string, ts timestamp",
    )
    # r1 has (a=1, b=null); the LATER r2 has (a=null, b=2.0). The old
    # per-column fill produced the franken-row (1, 2.0); correct as-of
    # semantics carry r2 whole: (null, 2.0).
    right = spark.createDataFrame(
        [("u1", _t(10), 1, None), ("u1", _t(20), None, 2.0)],
        "user_id string, ts timestamp, a long, b double",
    )
    out = {
        r["event_id"]: (r["r_a"], r["r_b"], r["r_ts"])
        for r in as_of_join(left, right, on=["user_id"]).collect()
    }
    assert out[1] == (None, 2.0, _t(20))
    assert out[2] == (None, None, None)  # no prior right row -> all-null


def test_as_of_join_null_tiebreak(spark):
    """Equal-ts right rows resolve by max carried tuple (nulls sort first),
    and the winning row is still carried atomically."""
    from goldenretriever_spark.operators.temporal import as_of_join

    left = spark.createDataFrame(
        [(1, "u1", _t(30))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", _t(20), None, 9.0), ("u1", _t(20), 5, None)],
        "user_id string, ts timestamp, a long, b double",
    )
    out = as_of_join(left, right, on=["user_id"]).collect()[0]
    # (a=5, b=null) > (a=null, b=9.0) lexicographically with nulls-first
    assert (out["r_a"], out["r_b"]) == (5, None)


def test_as_of_join_randomized_nulls_vs_pandas(spark):
    """Randomized cross-check WITH nulls in carried columns: equals a
    per-row argmax reference that carries the latest whole row (the
    pandas.merge_asof discipline), 3 seeds."""
    from goldenretriever_spark.operators.temporal import as_of_join

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        left = pd.DataFrame(
            {
                "lid": np.arange(60),
                "k": rng.integers(0, 5, 60),
                "ts": rng.integers(0, 1000, 60).astype("datetime64[s]"),
            }
        )
        # unique right ts per key -> no equal-ts ties to adjudicate
        n_r = 40
        rts = rng.choice(5000, size=n_r, replace=False).astype("datetime64[s]")
        a = rng.integers(0, 100, n_r).astype("float64")
        b = rng.integers(0, 100, n_r).astype("float64")
        a[rng.random(n_r) < 0.4] = np.nan
        b[rng.random(n_r) < 0.4] = np.nan
        right = pd.DataFrame(
            {"k": rng.integers(0, 5, n_r), "ts": rts, "a": a, "b": b}
        )
        got = {
            r["lid"]: (r["r_a"], r["r_b"])
            for r in as_of_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on=["k"],
            ).collect()
        }
        for _, lrow in left.iterrows():
            cand = right[(right["k"] == lrow["k"]) & (right["ts"] <= lrow["ts"])]
            if cand.empty:
                want = (None, None)
            else:
                row = cand.sort_values("ts").iloc[-1]
                want = tuple(
                    None if pd.isna(v) else float(v) for v in (row["a"], row["b"])
                )
            assert got[lrow["lid"]] == want, f"seed={seed} lid={lrow['lid']}"


def test_delta_decode_grouped_zero_count_runs():
    """ADVICE r3 (low): varint_decode_many can legitimately return zero
    counts (empty buffers, including trailing ones); delta_decode_grouped
    must handle them instead of indexing out of bounds."""
    from goldenretriever_spark.index.codec import (
        delta_decode_grouped,
        delta_encode_sorted_ids,
        varint_decode_many,
    )

    runs = [[5, 7, 12], [], [3], [], []]  # empty + trailing empty buffers
    bufs = [
        bytes(delta_encode_sorted_ids(np.array(r, dtype=np.int64))) for r in runs
    ]
    deltas, counts = varint_decode_many(bufs)
    assert counts.tolist() == [3, 0, 1, 0, 0]
    out = delta_decode_grouped(deltas, counts)
    assert out.tolist() == [5, 7, 12, 3]
    # all-empty input
    deltas2, counts2 = varint_decode_many([b"", b""])
    assert delta_decode_grouped(deltas2, counts2).tolist() == []


def test_streaming_dedupe_ttl_retention(spark, tmp_path):
    """VERDICT r3 #7: with ttl_ms, a digest re-occurring WITHIN the TTL is
    suppressed, and re-emits once its last occurrence is older than the TTL
    (bounded-retention mode for continuous ingest)."""
    import time

    from goldenretriever_spark.streaming.stateful import (
        deduped_view,
        streaming_dedupe,
    )

    schema = "repo string, path string, commit string, lang string, content string"

    def mk_drain(name, ttl_ms):
        in_dir, out_dir = str(tmp_path / f"{name}_in"), str(tmp_path / f"{name}_out")

        def drain(rows):
            spark.createDataFrame(rows, schema).write.mode("append").parquet(in_dir)
            streaming_dedupe(spark, in_dir, out_dir, ttl_ms=ttl_ms)
            return sorted(
                (r["repo"], r["content"])
                for r in deduped_view(spark, out_dir).collect()
            )

        return drain

    # --- never within the TTL: 300 s dwarfs any inter-drain latency ---
    drain = mk_drain("long", ttl_ms=300_000)
    assert drain([("r1", "a.py", "c1", "py", "dup content")]) == [
        ("r1", "dup content")
    ]
    assert drain([("r2", "b.py", "c2", "py", "dup content")]) == [
        ("r1", "dup content")
    ]

    # --- re-emits after expiry: 1 s TTL + explicit sleep past it ---
    drain = mk_drain("short", ttl_ms=1_000)
    assert drain([("r1", "a.py", "c1", "py", "dup content")]) == [
        ("r1", "dup content")
    ]
    time.sleep(1.5)
    out = drain([("r3", "c.py", "c3", "py", "dup content")])
    assert out == [("r1", "dup content"), ("r3", "dup content")]

    # the forever mode's indefinite suppression is covered by
    # test_streaming_stateful_dedupe_across_batches


def test_ivf_trained_beats_standin_on_clustered(spark):
    """VERDICT r3 #4: the seeded k-means|| codebook must beat the
    first-n-by-vec_id stand-in where the geometry has structure to learn
    (clustered embeddings; on the uniform driver table both are a wash —
    measured and recorded in BENCH/ANN_RECALL.json). Also: training is
    deterministic across invocations."""
    from goldenretriever_spark.operators import ann

    n, k, nq = 2000, 10, 30
    e = ann.synth_clustered_embeddings(spark, n, seed=7).cache()
    e.count()
    q = (
        e.orderBy("vec_id").limit(nq)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_q"), F.asc("vec_id"))
    brute = (
        q.crossJoin(e)
        .select(
            "query_id", "vec_id",
            F.round(ann.cosine_col(F.col("qvec"), F.col("embedding")) * 10000)
            .cast("long").alias("cosine_q"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    truth = sets(brute)
    standin = (
        e.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec"))
    )
    cb = ann.train_centroids_kmeans(e, n_centroids=8, iters=3, seed=42)
    cb2 = ann.train_centroids_kmeans(e, n_centroids=8, iters=3, seed=42)
    assert cb == cb2  # deterministic training
    trained = spark.createDataFrame(
        [(i, row) for i, row in enumerate(cb)], "centroid_id int, cvec array<double>"
    )

    def recall(cent, n_probe):
        got = sets(ann.ivf_topk(e, q, cent, k=k, n_probe=n_probe))
        return sum(len(got.get(qq, set()) & t) / k for qq, t in truth.items()) / len(truth)

    # n_probe=1 exposes the stand-in's duplicated-centroid weakness hardest
    # (a cluster split across twin lists loses half its neighbors); measured
    # margins here are ~0.14 (p=1) and ~0.11 (p=2)
    for n_probe in (1, 2):
        r_standin, r_trained = recall(standin, n_probe), recall(trained, n_probe)
        assert r_trained > r_standin + 0.03, (n_probe, r_trained, r_standin)
    e.unpersist()


def test_streaming_dedupe_continuous_evicts_state(spark, tmp_path):
    """Continuous mode (processingTime trigger + ProcessingTimeTimeout):
    idle digests past their TTL are EVICTED from the state store — the
    state-size bound. Observed via stateOperators numRowsTotal dropping to 0
    after the TTL with no new data."""
    import time

    from goldenretriever_spark.streaming.stateful import (
        streaming_dedupe_continuous,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x"), ("r2", "b.py", "c2", "py", "y")], schema
    ).write.mode("append").parquet(in_dir)

    q = streaming_dedupe_continuous(
        spark, in_dir, out_dir, ttl_ms=2_000, processing_time="500 milliseconds"
    )
    try:
        saw_state, saw_evicted = False, False
        deadline = time.time() + 60
        while time.time() < deadline and not saw_evicted:
            time.sleep(0.5)
            p = q.lastProgress
            ops = (p or {}).get("stateOperators") or []
            n = ops[0].get("numRowsTotal") if ops else None
            if n == 2:
                saw_state = True
            if saw_state and n == 0:
                saw_evicted = True
        assert saw_state, "state rows never reached 2"
        assert saw_evicted, "idle expired state was not evicted"
    finally:
        q.stop()


def test_connected_components_vs_union_find(spark):
    """Large-star/small-star components must equal a reference union-find
    on random graphs (3 seeds, incl. chains that punish plain neighbor
    propagation) — component = min reachable id."""
    from goldenretriever_spark.operators.dedup import connected_components_star

    def union_find(n_ids, edge_list):
        parent = {i: i for i in n_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in n_ids}

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        edge_list = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, 120, 80), rng.integers(0, 120, 80))
            if a != b
        ]
        # adversarial long chain: diameter 60, slow for plain propagation
        chain = [(1000 + i, 1000 + i + 1) for i in range(60)]
        edge_list += chain
        ids = sorted({x for e in edge_list for x in e})
        want = union_find(ids, edge_list)

        edges = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
        got = {
            r["id"]: r["component"]
            for r in connected_components_star(edges).collect()
        }
        assert got == want, f"seed={seed}"
