"""Point-in-time operators (operators/temporal.py): the as-of join's atomic
null carry and tie-breaks against hand-computed rows and a pandas argmax
reference."""

from datetime import datetime

import numpy as np
import pandas as pd

from goldenretriever_spark.operators.temporal import as_of_join


def _t(m: int) -> datetime:
    return datetime(2024, 1, 1, 0, m)


def test_as_of_join_null_carry_atomic(spark):
    """ADVICE r3 (medium): carried right columns with nulls must arrive as
    ONE atomic row — the latest right row including its nulls — not a
    per-column forward fill that splices values from different rows."""
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
