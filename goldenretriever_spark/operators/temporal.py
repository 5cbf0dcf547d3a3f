"""Temporal joins Spark lacks as primitives (build-brief custom operators):
as-of join and range join — expressed as compositions of built-in DataFrame
ops (option (a) of the brief's custom-operator ladder), no UDFs.

- ``as_of_join``: for each left row, the single latest right row with
  right_ts <= left_ts per key (point-in-time join; the feature-store /
  market-data primitive). A naive theta-join explodes to O(|L|·|R|) per key
  before picking the max — the scalable pattern here is UNION + WINDOW:
  tag both sides, sort each key's rows once by (ts, side), and forward-fill
  the right columns with last_value(ignorenulls) — ONE shuffle on the key,
  cost O((|L|+|R|) log) per key, no pair blowup. Ties: right-before-left at
  equal ts (inclusive semantics), max right id among equal-ts right rows —
  the discipline the DuckDB twin mirrors exactly.

- ``range_join_binned``: inner join on key + right_ts ∈ [left_ts - window,
  left_ts]. Spark nested-loops a keyless range join outright, and even with
  an equi-key it sort-merge-joins every same-key pair through a residual
  time filter — O(per-key |L|·|R|) pairs materialized. Binning bounds it: each left row probes the
  ceil(window/bin)+1 fixed-width time bins its interval overlaps (explode on
  the probe side only), the right side is hashed once into its bin, and the
  exact predicate filters the equi-matched candidates. Cost:
  O(|L|·probes + |R|) shuffle rows instead of the per-key cross product.

Reference analog: the querylog->feedback latest-wins merge
(feedback_service_es.py:33-39) is an as-of join with key=query_id at
ts=now; sinks.querylog_view special-cases it — this operator is the general
form.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "r_",
) -> DataFrame:
    """Left rows + the latest right row (right_ts <= left_ts) per key.

    right_cols: right columns to carry (default: all non-key, non-ts).
    Carried columns appear as ``{suffix}{col}``, plus ``{suffix}{right_ts}``.
    Left rows with no prior right row keep nulls (left-outer semantics).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    carried = [right_ts] + right_cols

    # The carried columns travel as ONE struct so the latest right row is
    # forward-filled ATOMICALLY. Filling each column independently with
    # last(ignorenulls) would assemble a row that never existed whenever a
    # right column is null (r1=(a=1,b=null), r2=(a=null,b=2) -> (1,2) instead
    # of r2's (null,2)); true as-of semantics carry the whole latest row,
    # nulls included (pandas.merge_asof equivalence: tests/test_temporal.py).
    r = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            *[F.col(c).alias(f"{suffix}{c}") for c in carried]
        ).alias("__carry"),
    )
    l_cols = [c for c in left.columns]
    lft = left.select(
        *l_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__carry"].dataType).alias("__carry"),
    )
    # align schemas: right side lacks the left-only columns
    for c in l_cols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(lft.schema[c].dataType))
    tagged = r.select(lft.columns).unionByName(lft)

    # deterministic fill order: right rows precede left at equal ts
    # (inclusive as-of); equal-ts right rows resolve to the LAST in struct
    # ascending order — lexicographic on (suffix+right_ts, ...carried), i.e.
    # max carried tuple, same discipline the DuckDB twin mirrors
    order = [F.col("__ts").asc(), F.col("__side").asc(),
             F.col("__carry").asc_nulls_first()]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn(
        "__carry", F.last("__carry", ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("__side") == 1)
        .select(
            *l_cols,
            *[F.col(f"__carry.{suffix}{c}").alias(f"{suffix}{c}") for c in carried],
        )
    )


def _epoch_seconds(df: DataFrame, colname: str):
    """Whole-second epoch for numeric OR timestamp/timestamp_ntz columns
    (TIMESTAMP_NTZ — what parquet scans infer — cannot cast to long)."""
    dtype = dict(df.dtypes)[colname]
    col = F.col(colname)
    return F.unix_timestamp(col) if dtype.startswith("timestamp") else col.cast("long")


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_seconds: int = 86_400,
    bin_seconds: int | None = None,
) -> DataFrame:
    """Inner join: pairs with right_ts in [left_ts - window, left_ts].

    Output = left columns + the matching right row's columns prefixed r_.
    Bin width defaults to the window (each left row probes 2 bins); a
    smaller bin trades more probe rows for tighter candidate sets on skewed
    time distributions.
    """
    if bin_seconds is None:
        bin_seconds = window_seconds
    n_probe = math.ceil(window_seconds / bin_seconds) + 1

    r = right.select(
        *on,
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in on and c != right_ts],
    )
    r = r.withColumn("__bin", F.floor(_epoch_seconds(r, "__rts") / bin_seconds))
    probes = F.array(*[F.lit(i) for i in range(n_probe)])
    lft = (
        left.withColumn("__lbin", F.floor(_epoch_seconds(left, left_ts) / bin_seconds))
        .withColumn("__off", F.explode(probes))
        .withColumn("__bin", F.col("__lbin") - F.col("__off"))
        .drop("__lbin", "__off")
    )
    joined = lft.join(r, on + ["__bin"])
    joined = joined.filter(
        (_epoch_seconds(joined, "__rts") >= _epoch_seconds(joined, left_ts) - window_seconds)
        & (F.col("__rts") <= F.col(left_ts))
    )
    return joined.drop("__bin").withColumnRenamed("__rts", f"r_{right_ts}")
