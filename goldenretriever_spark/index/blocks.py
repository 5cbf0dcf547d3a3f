"""Compressed block tables: the one blocking both tables share, and the
posting blocks.

The reference persists its index as an Annoy file + pickle
(/root/reference/src/prebuilt_index.py:44-72). Here the persistent index is a
columnar table of fixed-size compressed blocks:

    posting_blocks(term, salt, block_id, n, df, docno_min, docno_max,
                   block_max_tf_norm, docnos_delta_varint, tfs_varint,
                   dls_varint, term_bucket)

Documents are named by their ``docno`` (index format v2): the dense rank
of the doc_id in signed order, assigned once per build
(build.number_docs). Docno order is doc_id order, so every doc_id-asc tie
rule holds on docnos unchanged, and a block's docno gaps are small (~n_docs
/ df) where hash-id gaps cost ~8 varint bytes each. Only result rows are
mapped back to doc_ids (storage.to_doc_ids).

Skew handling (north_rule: explicit, not only AQE): hot terms like ``def``
appear in nearly every document, so a plain repartition('term') sends one
term's postings to one task. Instead each term gets an adaptive salt count
``ceil(df / target_docs_per_group)`` and postings are split into salt groups
by CONTIGUOUS doc ranges (top 16 bits of the signed doc_id, which is a
contiguous docno range because docno order is doc_id order), so:

- groups are bounded (~target_docs_per_group rows) regardless of df
- each (term, salt) group covers a disjoint, ordered docno range, so blocks
  remain globally sorted runs per term (block-max WAND needs ordered ranges)
- salt is computed from data already on the row — no extra shuffle stage

Both block tables — ``posting_blocks`` here and ``positional_blocks``
(index/positions.py) — are cut by this module, so a change to the cut is a
one-module change: :func:`salt_col` is the salt (sized by df here, by Σtf
there), :func:`split_blocks` the block split over doc runs with the shared
head columns, and :func:`pack_exchange` the one pack exchange.

Block contents per (term, salt) group, packed in one mapInPandas pass:
docnos sorted ascending, delta-gap + varint (codec.py); tfs and doc
lengths varint;
``block_max_tf_norm`` = max over the block of tf/(tf + k1*(1-b+b*dl/avgdl)) —
the term-independent part of the BM25 upper bound used by WAND pruning
(Ding & Suel, SIGIR 2011), exact because dl/avgdl are known at build time.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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
SALT_SPACE = 65536  # top 16 bits of signed doc_id -> contiguous docno ranges
MAX_SALTS = SALT_SPACE

BLOCKS_SCHEMA = (
    "term string, salt int, block_id long, n int, df long, "
    "docno_min long, docno_max long, block_max_tf_norm double, "
    "docnos_delta_varint binary, tfs_varint binary, dls_varint binary"
)


def salt_col(freq: Column, target: int) -> Column:
    """A row's contiguous docno-range salt, sized by its term's frequency
    ``freq`` (df for posting blocks, Σtf for positional blocks): the term
    gets ``ceil(freq / target)`` salt groups (at most MAX_SALTS; one when
    ``freq`` is null), and the row's salt is the top 16 bits of its signed
    doc_id mapped to [0, 65536), then scaled down to [0, n_salts). The
    salt is monotone in doc_id, hence in docno, so each group is one
    contiguous docno range, ordered and disjoint; the uniform hash keeps
    the groups balanced without knowing n_docs on the row."""
    n_salts = F.least(
        F.lit(MAX_SALTS), F.coalesce(F.ceil(freq / F.lit(target)), F.lit(1))
    ).cast("int")
    u16 = (F.shiftright(F.col("doc_id"), 48) + F.lit(32768)).cast("long")
    return F.floor(u16 * n_salts / F.lit(SALT_SPACE)).cast("int")


def split_blocks(
    terms: np.ndarray, salts: np.ndarray, docnos: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray, dict[str, np.ndarray]]:
    """Doc runs sorted by (term, salt, docno) -> blocks: a block starts at
    every (term, salt) group start and every block_size-th doc within its
    group. Returns each block's start and end index into the runs and the
    head columns both block tables share (``term, salt, block_id, n,
    docno_min, docno_max, docnos_delta_varint``).

    Fully vectorized (no per-block Python loop — a 10^6-block partition
    paid ~100µs of numpy call overhead per block, 3 varint calls each,
    before this)."""
    n_runs = docnos.size
    salts = salts.astype(np.int64)
    change = np.empty(n_runs, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
    grp_starts = np.flatnonzero(change)
    grp_sizes = np.diff(np.append(grp_starts, n_runs))
    off = np.arange(n_runs, dtype=np.int64) - np.repeat(grp_starts, grp_sizes)
    starts = np.flatnonzero(off % block_size == 0)
    ends = np.append(starts[1:], n_runs)
    salts_b = salts[starts]
    head = {
        "term": terms[starts],
        "salt": salts_b,
        # globally ordered within term: salt-major, then local
        "block_id": (salts_b << 32) | (off[starts] // block_size),
        "n": (ends - starts).astype(np.int32),
        "docno_min": docnos[starts],
        "docno_max": docnos[ends - 1],
        "docnos_delta_varint": varint_encode_grouped(
            delta_encode_grouped(docnos, starts), starts, ends
        ),
    }
    return starts, ends, head


def pack_exchange(
    rows: DataFrame,
    order: list[str],
    pack: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    n_term_buckets: int,
) -> DataFrame:
    """The one pack exchange of both block tables.

    ``repartition(P, term, salt)`` + ``sortWithinPartitions(term, salt,
    *order)`` so every (term, salt) group is one contiguous sorted run
    inside exactly one partition, then ONE mapInPandas call per partition
    packs all of its groups: ``pack`` maps the partition's sorted rows to
    its block rows. (A groupBy().applyInPandas() here would pay per-group
    pandas overhead for every rare term — vocabularies are mostly df=1
    tails, which made the pack stage the build bottleneck.) P is
    ``spark.sql.shuffle.partitions``; a partition holds ~|rows|/P rows, so
    it bounds per-task memory in the Python worker.

    Shuffle-byte discipline (r7, guide §2.3): ``term_bucket`` is a pure
    function of ``term`` (storage.bucket_col), so it is computed on the
    packed block rows (~|rows|/block_size of the input) by a plain
    projection instead of riding the exchange and the Arrow boundary on
    every input row. ``n_term_buckets`` must match the build-time bucket
    count (the checkpointed builder passes its own).
    """
    P = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def pack_partition(batches):
        # materialize first: empty shuffle partitions (P > occupied hash
        # slots) yield zero batches and pd.concat([]) raises
        batches = list(batches)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        if not pdf.empty:
            yield pack(pdf)

    return (
        rows.repartition(P, "term", "salt")
        .sortWithinPartitions("term", "salt", *order)
        .mapInPandas(pack_partition, schema=schema)
        .withColumn("term_bucket", bucket_col(n_term_buckets))
    )


def enriched_postings(
    index: InvertedIndex,
    target_docs_per_group: int = 250_000,
    n_term_buckets: int = 64,
) -> DataFrame:
    """postings (with docnos) + df + adaptive contiguous-range salt +
    term_bucket.

    This is the stageable intermediate of the build: the checkpointed builder
    writes it to a staging table once (one pass over the corpus), then packs
    bucket groups from the stage — tokenization is never recomputed on resume.
    """
    # term_stats is vocab-sized (orders of magnitude smaller than postings);
    # broadcast it explicitly — at extreme vocab sizes drop the hint and let
    # AQE pick the strategy.
    ts = F.broadcast(index.term_stats)
    return index.postings.join(ts, "term").select(
        "term",
        salt_col(F.col("df"), target_docs_per_group).alias("salt"),
        "docno",
        "tf",
        "doc_len",
        "df",
        bucket_col(n_term_buckets).alias("term_bucket"),
    )


def pack_enriched(
    enriched: DataFrame,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    n_term_buckets: int = 64,
) -> DataFrame:
    """Enriched postings -> compressed posting_blocks in one exchange
    (:func:`pack_exchange`). Each posting is one doc run of
    :func:`split_blocks`; the worker adds ``df`` (it stays on the rows:
    re-attaching it post-pack would need a vocab-sized broadcast join,
    which does not survive 100 TB vocabularies), the block-max BM25 bound
    and the tf and doc_len streams."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["docno"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        dls = pdf["doc_len"].to_numpy(dtype=np.int64)
        tf_norm = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
        starts, ends, head = split_blocks(
            pdf["term"].to_numpy(), pdf["salt"].to_numpy(), ids, block_size
        )
        return pd.DataFrame(
            {
                **head,
                "df": pdf["df"].to_numpy(dtype=np.int64)[starts],
                # segmented max over each block's tf_norm run
                "block_max_tf_norm": np.maximum.reduceat(tf_norm, starts),
                "tfs_varint": varint_encode_grouped(
                    tfs.astype(np.uint64), starts, ends
                ),
                # per-posting doc_len (varint, ~1-2B) makes blocks fully
                # self-contained for BM25 — no doc_stats join at query time
                "dls_varint": varint_encode_grouped(
                    dls.astype(np.uint64), starts, ends
                ),
            }
        )

    return pack_exchange(
        enriched.select("term", "salt", "docno", "tf", "doc_len", "df"),
        ["docno"],
        pack,
        BLOCKS_SCHEMA,
        n_term_buckets,
    )


def pack_blocks(
    index: InvertedIndex,
    block_size: int = BLOCK_SIZE,
    target_docs_per_group: int = 250_000,
    n_term_buckets: int = 64,
) -> DataFrame:
    """Convenience: an index -> compressed posting_blocks in one plan
    (non-checkpointed path). corpus_stats is a local relation, so reading
    avgdl runs no job."""
    avgdl = float(index.corpus_stats.collect()[0]["avgdl"])
    return pack_enriched(
        enriched_postings(index, target_docs_per_group, n_term_buckets),
        avgdl,
        block_size,
        n_term_buckets=n_term_buckets,
    )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """posting_blocks -> (term, doc_id, tf) via a vectorized mapInPandas
    decode (codec batch decoders, no per-block Python); ``doc_id`` carries
    the blocks' docnos, as in every block decoder of the query layer."""
    cols = ["term", "docnos_delta_varint", "tfs_varint"]

    def unpack(batches):
        for pdf in batches:
            ids, counts = decode_doc_ids(pdf["docnos_delta_varint"])
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
