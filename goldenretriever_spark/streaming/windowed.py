"""Event-time windowed aggregation with watermark-based late-data handling
(SURVEY §2.9 — the built-in Structured Streaming pattern for time-series
rollups; complements incremental.py's foreachBatch and stateful.py's
applyInPandasWithState).

``streaming_windowed_counts`` maintains per-(window, event_type) counts over
an unbounded event stream in append mode: a window emits exactly once, when
the watermark (max observed event time minus the allowed lateness) passes
its end; events arriving later than the watermark for an already-closed
window are DROPPED by the engine — bounded state, no unbounded reprocessing.
At 100 TB/day event volume this is the only shape that works: state size is
(open windows × group cardinality), independent of stream length, sharded by
group across executors.

Emission timing follows the watermark: a window flushes once the watermark
(advanced by the no-data flush micro-batch at the end of each drain) passes
its end. Late-vs-dropped behavior across multiple drains is pytest-verified
(tests/test_round3.py); a single drain over a static table
has a closed-form result — windows ending at or before max(ts) - delay —
which is the driver-contract twin (stream_windowed_counts).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def streaming_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    schema: str | None = None,
) -> None:
    """Drain available event files into append-mode windowed counts.

    Safe to call repeatedly as files land: the checkpoint carries both the
    file log and the watermark, so each drain resumes event time where the
    previous one stopped."""
    stream = spark.readStream.schema(schema or EVENTS_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", os.path.join(out_dir, "window_counts"))
        .option("checkpointLocation", os.path.join(out_dir, "_window_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def window_counts_view(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "window_counts"))
