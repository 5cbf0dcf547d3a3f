"""The index-build job at a given parallelism — the north_rule scaling unit.

Runs: read corpus parquet -> build_index (tokenize, postings+stats) ->
pack_blocks (salted repartition, delta+varint blocks) -> materialize.
Prints one JSON line {"cpus": N, "docs": n, "build_sec": s, "files_per_sec": t}.

Usage: python tools/build_job.py <cpus> <n_docs> [tokenizer]
Corpus is generated once per size into /tmp (cached across runs/levels so
every level indexes identical input).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1])
    n_docs = int(sys.argv[2])
    tokenizer = sys.argv[3] if len(sys.argv) > 3 else "simple"
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.session import get_spark

    # shuffle partitions scale with DATA, not cores (same count at every
    # parallelism level so the plans are identical): a 3.84M-doc postings
    # shuffle at 16 partitions is ~500 MB/partition — at 8 concurrent tasks
    # in one 16g JVM that spills, while 2 tasks fit, silently destroying
    # measured scaling efficiency. ~50k docs/partition keeps every task's
    # agg/sort working set in memory at all levels.
    parts = max(2 * max(cpus, 8), n_docs // 50_000)
    # SPARK_GRAFT_CLUSTER=1: run as local-cluster[cpus,1,mem] — `cpus`
    # single-core executor JVMs instead of one JVM with cpus threads. This is
    # the faithful N->4N *executor* proxy (separate GC, separate arenas,
    # worker-process Python UDFs shipped via --py-files/addPyFile).
    if os.environ.get("SPARK_GRAFT_CLUSTER") == "1":
        os.environ["SPARK_GRAFT_MASTER"] = f"local-cluster[{cpus},1,4096]"
    spark = get_spark("gr-build-job", cores=cpus, shuffle_partitions=parts)
    if os.environ.get("SPARK_GRAFT_CLUSTER") == "1":
        from goldenretriever_spark.deploy import attach_package

        attach_package(spark)
    cache = f"/tmp/gr_bench_corpus_{n_docs}.parquet"
    if not os.path.exists(cache):
        corpus.synth_corpus(spark, n_docs, seed=42, partitions=256).write.mode(
            "overwrite"
        ).parquet(cache)
    docs = spark.read.parquet(cache)

    # steady-state measurement: run the identical pipeline over a small slice
    # first so JIT compilation, codegen caches and Python workers are warm at
    # BOTH parallelism levels — the timed run then measures the engine, not
    # JVM warmup (which is fixed cost, disproportionately penalizing the
    # faster level and thus understating scaling efficiency)
    warm = spark.read.parquet(cache).limit(50_000)
    widx = build_index(warm, tokenizer=tokenizer, persist=False)
    pack_blocks(widx, block_size=128, target_docs_per_group=250_000).count()

    t0 = time.time()
    idx = build_index(docs, tokenizer=tokenizer, persist=True)
    blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000)
    n_blocks = blocks.count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "cpus": cpus,
                "docs": n_docs,
                "build_sec": round(dt, 1),
                "files_per_sec": round(n_docs / dt, 1),
                "n_blocks": n_blocks,
                "tokenizer": tokenizer,
                "master": spark.sparkContext.master,
            }
        )
    )


if __name__ == "__main__":
    main()
