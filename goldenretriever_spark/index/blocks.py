"""Compressed posting blocks: salted repartition-by-term + applyInPandas pack.

The reference persists its index as an Annoy file + pickle
(/root/reference/src/prebuilt_index.py:44-72). Here the persistent index is a
columnar table of fixed-size compressed blocks:

    posting_blocks(term, salt, block_id, n, df, doc_id_min, doc_id_max,
                   block_max_tf_norm, doc_ids_delta_varint, tfs_varint,
                   term_bucket)

Skew handling (north_rule: explicit, not only AQE): hot terms like ``def``
appear in nearly every document, so a plain repartition('term') sends one
term's postings to one task. Instead each term gets an adaptive salt count
``ceil(df / target_docs_per_group)`` and postings are split into salt groups
by CONTIGUOUS doc_id ranges (top 16 bits of the signed doc_id), so:

- groups are bounded (~target_docs_per_group rows) regardless of df
- each (term, salt) group covers a disjoint, ordered doc_id range, so blocks
  remain globally sorted runs per term (block-max WAND needs ordered ranges)
- salt is computed from data already on the row — no extra shuffle stage

Block contents per (term, salt) group, packed in one applyInPandas pass:
doc_ids sorted ascending (signed), delta-gap + varint (codec.py); tfs varint;
``block_max_tf_norm`` = max over the block of tf/(tf + k1*(1-b+b*dl/avgdl)) —
the term-independent part of the BM25 upper bound used by WAND pruning
(Ding & Suel, SIGIR 2011), exact because dl/avgdl are known at build time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import B, K1, InvertedIndex
from goldenretriever_spark.index.codec import (
    decode_doc_ids,
    decode_varints,
    delta_encode_grouped,
    varint_encode_grouped,
)
from goldenretriever_spark.index.storage import bucket_col

BLOCK_SIZE = 128
SALT_SPACE = 65536  # top 16 bits of signed doc_id -> contiguous range ids
MAX_SALTS = SALT_SPACE

BLOCKS_SCHEMA = (
    "term string, salt int, block_id long, n int, df long, "
    "doc_id_min long, doc_id_max long, block_max_tf_norm double, "
    "doc_ids_delta_varint binary, tfs_varint binary, dls_varint binary"
)


def enriched_postings(
    index: InvertedIndex,
    target_docs_per_group: int = 250_000,
    n_term_buckets: int = 64,
) -> DataFrame:
    """postings + doc_len + df + adaptive contiguous-range salt + term_bucket.

    This is the stageable intermediate of the build: the checkpointed builder
    writes it to a staging table once (one pass over the corpus), then packs
    bucket groups from the stage — tokenization is never recomputed on resume.
    """
    # term_stats is vocab-sized (orders of magnitude smaller than postings);
    # broadcast it explicitly — at extreme vocab sizes drop the hint and let
    # AQE pick the strategy.
    ts = F.broadcast(index.term_stats)
    return (
        index.postings
        .join(ts, "term")
        .withColumn(
            "n_salts",
            F.least(
                F.lit(MAX_SALTS),
                F.ceil(F.col("df") / F.lit(target_docs_per_group)),
            ).cast("int"),
        )
        # contiguous-range salt: map signed doc_id's top 16 bits to [0, 65536)
        # then scale down to [0, n_salts) — ranges stay ordered and disjoint
        .withColumn("u16", (F.shiftright(F.col("doc_id"), 48) + F.lit(32768)).cast("long"))
        .withColumn(
            "salt",
            F.floor(F.col("u16") * F.col("n_salts") / F.lit(SALT_SPACE)).cast("int"),
        )
        .withColumn("term_bucket", bucket_col(n_term_buckets))
        .select("term", "salt", "doc_id", "tf", "doc_len", "df", "term_bucket")
    )


def pack_enriched(
    enriched: DataFrame,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    pack_partitions: int | None = None,
    n_term_buckets: int = 64,
) -> DataFrame:
    """Enriched postings -> compressed posting_blocks.

    One shuffle: ``repartition(P, term, salt)`` + ``sortWithinPartitions`` so
    every (term, salt) group is one contiguous sorted run inside exactly one
    partition, then ONE mapInPandas call per partition packs all of its
    groups. (A groupBy().applyInPandas() here would pay per-group pandas
    overhead for every rare term — vocabularies are mostly df=1 tails, which
    made the pack stage the build bottleneck. Partition-wise packing does the
    same work in ~vocab/P numpy slices per task.)

    Shuffle-byte discipline (r7, guide §2.3): ``term_bucket`` is a pure
    function of ``term`` (storage.bucket_col), so it is recomputed on the packed
    block rows (~|postings|/block_size of the input) by a plain projection
    instead of riding the exchange and the Arrow boundary on every posting
    row. ``df`` stays on the rows: re-attaching it post-pack would need a
    vocab-sized broadcast join, which does not survive 100 TB vocabularies.
    ``n_term_buckets`` must match the build-time bucket count (the
    checkpointed builder passes its own).

    P (pack_partitions) bounds per-task memory: partitions hold
    ~|postings|/P rows; size it so a partition fits comfortably in a Python
    worker (the builder passes shuffle-partition-scaled defaults).
    """
    spark = enriched.sparkSession
    P = pack_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def pack_partition(batches):
        # materialize first: empty shuffle partitions (P > occupied hash
        # slots) yield zero batches and pd.concat([]) raises
        batches = list(batches)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        if pdf.empty:
            return
        terms = pdf["term"].to_numpy()
        salts = pdf["salt"].to_numpy()
        ids_all = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs_all = pdf["tf"].to_numpy(dtype=np.int64)
        dls_all = pdf["doc_len"].to_numpy(dtype=np.int64)
        dfs_all = pdf["df"].to_numpy(dtype=np.int64)
        tf_norm_all = tfs_all / (tfs_all + K1 * (1.0 - B + B * dls_all / avgdl))

        n_rows = len(pdf)
        change = np.empty(n_rows, dtype=bool)
        change[0] = True
        change[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
        grp_starts = np.flatnonzero(change)

        # Fully vectorized block split (no per-block Python loop — a 10^6-
        # block partition paid ~100µs of numpy call overhead per block, 3
        # varint calls each, before this): a block starts at every group
        # start and every block_size-th row within its group.
        grp_sizes = np.diff(np.append(grp_starts, n_rows))
        grp_start_per_row = np.repeat(grp_starts, grp_sizes)
        off = np.arange(n_rows, dtype=np.int64) - grp_start_per_row
        blk_starts = np.flatnonzero(off % block_size == 0)
        blk_ends = np.append(blk_starts[1:], n_rows)
        local = off[blk_starts] // block_size
        salts_b = salts[blk_starts].astype(np.int64)

        yield pd.DataFrame(
            {
                "term": terms[blk_starts],
                "salt": salts_b,
                # globally ordered within term: salt-major, then local
                "block_id": (salts_b << 32) | local,
                "n": blk_ends - blk_starts,
                "df": dfs_all[blk_starts],
                "doc_id_min": ids_all[blk_starts],
                "doc_id_max": ids_all[blk_ends - 1],
                # segmented max over each block's tf_norm run
                "block_max_tf_norm": np.maximum.reduceat(tf_norm_all, blk_starts),
                "doc_ids_delta_varint": varint_encode_grouped(
                    delta_encode_grouped(ids_all, blk_starts), blk_starts, blk_ends
                ),
                "tfs_varint": varint_encode_grouped(
                    tfs_all.astype(np.uint64), blk_starts, blk_ends
                ),
                # per-posting doc_len (varint, ~1-2B) makes blocks fully
                # self-contained for BM25 — no doc_stats join at query time
                "dls_varint": varint_encode_grouped(
                    dls_all.astype(np.uint64), blk_starts, blk_ends
                ),
            }
        )

    return (
        enriched.select("term", "salt", "doc_id", "tf", "doc_len", "df")
        .repartition(P, "term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id")
        .mapInPandas(pack_partition, schema=BLOCKS_SCHEMA)
        .withColumn("term_bucket", bucket_col(n_term_buckets))
    )


def pack_blocks(
    index: InvertedIndex,
    block_size: int = BLOCK_SIZE,
    target_docs_per_group: int = 250_000,
    n_term_buckets: int = 64,
) -> DataFrame:
    """Convenience: postings + doc_stats -> compressed posting_blocks in one
    plan (non-checkpointed path)."""
    avgdl = float(index.corpus_stats.collect()[0]["avgdl"])
    return pack_enriched(
        enriched_postings(index, target_docs_per_group, n_term_buckets),
        avgdl,
        block_size,
        n_term_buckets=n_term_buckets,
    )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """posting_blocks -> (term, doc_id, tf) via a vectorized mapInPandas
    decode (codec batch decoders, no per-block Python)."""
    cols = ["term", "doc_ids_delta_varint", "tfs_varint"]

    def unpack(batches):
        for pdf in batches:
            ids, counts = decode_doc_ids(pdf["doc_ids_delta_varint"])
            if ids.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), counts),
                    "doc_id": ids,
                    "tf": decode_varints(pdf["tfs_varint"]).astype(np.int64),
                }
            )

    return blocks.select(*cols).mapInPandas(unpack, schema="term string, doc_id long, tf long")
