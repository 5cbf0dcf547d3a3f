"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The reference and generator tests take seconds. The repeatability test
makes two traced runs of one seed (a few minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen
from perfbench.reference import Reference, check_phrase, check_ranked, tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def tiny():
    corpus = gen.make_corpus(7, 300)
    return corpus, Reference(corpus["doc_id"], corpus["content"])


def queries(corpus):
    ops = gen.interactive_ops(7, 40, corpus)
    qs = [op[1] for op in ops if op[0] != "phrase"]
    return qs + ["def return", "import frameedge195 class", "zzz_absent", "def def if"]


def test_reference_agrees_with_package_oracle(tiny):
    from goldenretriever_spark.oracle import build_oracle_index, top_k

    corpus, ref = tiny
    oidx = build_oracle_index(list(zip(corpus["doc_id"].tolist(), corpus["content"])))
    assert oidx.n_docs == ref.n_docs and oidx.avgdl == pytest.approx(ref.avgdl, rel=1e-12)
    for q in queries(corpus):
        for k in (1, 10, 1000):
            assert check_ranked(ref, q, top_k(oidx, q, k=k), k) is None, (q, k)


def test_phrase_counts_overlapping_occurrences(tiny):
    corpus, ref = tiny
    for op in gen.interactive_ops(7, 50, corpus):
        if op[0] != "phrase":
            continue
        want = {}
        for d, text in zip(corpus["doc_id"], corpus["content"]):
            toks = tokenize(text)
            n = sum(toks[i : i + 2] == op[1] for i in range(len(toks) - 1))
            if n:
                want[int(d)] = n
        assert want and ref.phrase(op[1]) == want
    r = Reference([1], ["a a a a"])
    assert r.phrase(["a", "a"]) == {1: 3}


def test_filtered_reference_keeps_only_qualifying_docs(tiny):
    corpus, ref = tiny
    ids, _, _ = ref.ranked("user_query def", must=["def"], must_not=["for"])
    for d in ids:
        toks = set(tokenize(ref.content(d)))
        assert "def" in toks and "for" not in toks


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.make_corpus(3, 500), gen.make_corpus(3, 500), gen.make_corpus(4, 500)
    assert a.equals(b)
    assert not a["content"].equals(c["content"])
    assert a["doc_id"].is_unique
    assert gen.interactive_ops(3, 60, a) == gen.interactive_ops(3, 60, b)
    kinds = [op[0] for op in gen.interactive_ops(3, 100, a)]
    assert kinds.count("search") == 60 and kinds.count("filtered") == 20 == kinds.count("phrase")


def test_corrupted_results_fail_the_check(tiny):
    from perfbench.run import Bench

    corpus, ref = tiny
    b = Bench(argparse_ns())
    b.ref = ref
    idents = gen.identifiers(7)
    q = f"{idents[0]} {idents[5]}".lower()
    ids, _, raw = ref.ranked(q)
    rows = [
        {"doc_id": int(d), "score": float(s), "rank": i + 1, "content": ref.content(d)}
        for i, (d, s) in enumerate(zip(ids[:10], raw[:10]))
    ]
    b.record("good", b.check_op(("search", q), rows))
    assert b.failed == 0

    outsider = int(next(d for d in ref.doc_ids if d not in set(ids.tolist())))
    corruptions = [
        rows[:-1],                                                   # a row missing
        [dict(rows[0], score=rows[0]["score"] + 0.01)] + rows[1:],   # a wrong score
        [dict(rows[0], content="x")] + rows[1:],                     # wrong content
        [dict(rows[0], doc_id=outsider)] + rows[1:],                 # a non-matching doc
        [dict(r, rank=len(rows) - i) for i, r in enumerate(rows)],   # reversed order
    ]
    for bad in corruptions:
        b.record("bad", b.check_op(("search", q), bad))
    assert b.failed == len(corruptions)
    assert b.failed / b.attempted == pytest.approx(len(corruptions) / (len(corruptions) + 1))

    phrase = ["def", "return"]
    got = ref.phrase(phrase)
    assert check_phrase(ref, phrase, got) is None
    got[next(iter(got))] += 1
    assert check_phrase(ref, phrase, got) is not None


def test_ties_within_a_quantum_may_come_in_either_order():
    ref = Reference([5, 3, 9], ["x y", "y x", "x y y"])
    ids, q, raw = ref.ranked("x")
    assert ids.tolist() == [3, 5, 9] and q[0] == q[1] > q[2]
    score = dict(zip(ids.tolist(), raw.tolist()))
    swapped = [(d, score[d]) for d in (5, 3, 9)]
    assert check_ranked(ref, "x", swapped, 3) is None
    assert check_ranked(ref, "x", swapped, 3, exact_ties=True) is not None
    # at the k cut either tied document is a correct pick
    assert check_ranked(ref, "x", [(5, score[5])], 1) is None
    assert check_ranked(ref, "x", [(9, score[9])], 1) is not None


def argparse_ns():
    import argparse

    return argparse.Namespace(workload="serve_interactive", seed=7, seconds=1, trace=0)


COUNT_SUFFIXES = ("jobs", "rows_read", "bytes", "postings_rows", "n_blocks", "allowed_ids",
                  "shuffle_records", "jobs_per_op", "tasks_per_op")


def traced_run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return res["metrics"]


@pytest.mark.parametrize("workload", ["serve_interactive"])
def test_count_metrics_repeat_exactly_for_one_seed(workload):
    a, b = traced_run(workload, 21), traced_run(workload, 21)
    counts = [k for k in a if k.endswith(COUNT_SUFFIXES) or k.split(".")[-1] in COUNT_SUFFIXES]
    assert len(counts) >= 15
    for k in counts:
        assert a[k]["value"] == b[k]["value"], k
    assert np.isfinite([v["value"] for v in a.values()]).all()
