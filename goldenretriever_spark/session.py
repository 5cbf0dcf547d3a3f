"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same configs are what we would set
on a real multi-executor cluster (AQE, adaptive skew join, Arrow). Shuffle
partitioning is sized to cores locally; at 100 TB scale the same code runs
with ``spark.sql.shuffle.partitions`` sized to ~2-3x total cluster cores and
AQE coalescing trims the rest.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "goldenretriever_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or 32.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER overrides (e.g. local-cluster[4,1,4096] — separate
    # executor JVMs, each with its own GC and allocator arenas: the honest
    # sandbox proxy for N distinct executors)
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # NOTE small heap on purpose: on this VM a large lazily-faulted heap
        # causes GC page-fault storms (observed 50-66% GC time at 64g); the
        # engine's working data is columnar-cached and spills cleanly.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # GC threads pinned to the allotted cores: a containerized executor
        # with N cores gets ~N GC threads; unpinned, a local[2] JVM on a
        # 32-core host steals 32 GC threads and overstates small-N throughput
        # in scaling measurements
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC"
            + (f" -XX:ParallelGCThreads={max(int(cores), 1)}" if str(cores).isdigit() else ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle compression is a NETWORK/disk-bandwidth trade (guide §2.3).
        # In pure local[N] mode shuffle blocks never cross a NIC and live in
        # the page cache, so lz4 is pure CPU overhead — measured ~15-20% off
        # the pack rows (OPTIMIZATION_r07.md confsweep). Any distributed
        # master (local-cluster, standalone, yarn, k8s) keeps compression ON.
        .config(
            "spark.shuffle.compress", "false" if master.startswith("local[") else "true"
        )
        # CPU-heavy per-row work (tokenize+explode) needs more input splits
        # than the 128MB default gives on small-ish files; 4MB/256KB measured
        # best on the bench corpora (r7 split sweep, OPTIMIZATION_r07.md).
        # Production sequential scans over 128MB+ parquet files should
        # override toward 512MB-1GB (guide §6) via ``extra_conf``, which
        # overrides every setting here.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
    )
    if master.startswith("local-cluster"):
        # third bracket param is WORKER memory (MB); executor memory must fit
        # under it. Each executor pins GC threads to its own core count.
        inner = master[master.index("[") + 1 : master.index("]")].split(",")
        exec_cores = int(inner[1])
        builder = (
            builder.config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "3g"),
            )
            .config(
                "spark.executor.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(exec_cores, 1)}",
            )
            # all cores pegged during the build -> heartbeats lag; raise the
            # tolerances or executors die with exit 143
            .config("spark.network.timeout", "600s")
            .config("spark.executor.heartbeatInterval", "60s")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession,
    data: pa.Table | Mapping[str, Sequence],
    schema: str | StructType,
) -> DataFrame:
    """Driver-held rows as a DataFrame planned as a ``LocalRelation``.

    ``data`` is a ``pyarrow.Table`` or a ``{column: values}`` mapping;
    ``schema`` (DDL string or StructType) fixes the column types, so an
    empty batch keeps them. ``createDataFrame`` over a Python list plans a
    ``LogicalRDD`` of pickled rows instead: every broadcast or collect of it
    runs a Spark job whose tasks start Python workers to unpickle a handful
    of rows. An Arrow table is shipped into the plan itself, whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        data = pa.table(dict(data), schema=to_arrow_schema(schema))
    return spark.createDataFrame(data, schema=schema)
