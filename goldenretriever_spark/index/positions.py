"""Persisted positional postings: compressed (term, docno, positions) blocks.

Phrase and proximity search (query/phrase.py) consume ``(term, doc_id, pos)``
rows. Serving them by re-tokenizing the corpus per query is a full scan — the
one scale-killer the r5 audit named. This module persists the positional
postings ONCE at index-build time, from the ``positions`` column the
postings already carry (build.staging_tables: one tokenize feeds both block
tables). It holds only what is positional: the positions payload and its
decoders. The blocking is index/blocks.py's, shared with the BM25 posting
blocks — the same contiguous doc-id-range salt, block split and
one ``(term, salt)`` pack exchange — so both tables are cut identically:
delta-gap + varint compression (index/codec.py — positions are sorted ints
exactly like doc-id runs) and ``term_bucket`` partitioning so a phrase
query's scan prunes to the buckets holding its terms.

The reference engine has no positional index at all (its retrieval is
embedding / bag-of-words, /root/reference/src/models.py:114-149); the layout
here is the classic Lucene positional-postings design re-expressed as a
columnar Spark table.

Block schema::

    positional_blocks(term, salt, block_id, n, docno_min, docno_max,
                      docnos_delta_varint, pos_counts_varint,
                      positions_delta_varint, term_bucket)

- one block covers up to ``block_docs`` consecutive docs of one (term, salt)
  group, docnos ascending (docno order is signed doc_id order, the
  engine-wide tie discipline)
- ``docnos_delta_varint``: the block's docnos (index format v2, the same
  numbering as posting_blocks: build.number_docs), delta-gap + varint
- ``pos_counts_varint``: positions-per-doc counts (== tf), varint
- ``positions_delta_varint``: all the block's token positions concatenated
  doc-major, delta-encoded WITH A RESET at each doc boundary, varint

Skew: the salt (blocks.salt_col) is sized by COLLECTION frequency (total
positions, not df) because a positional group's payload is Σtf, not doc
count — a scorching-hot term ("def") splits into bounded, ordered, disjoint
ranges with no extra shuffle stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goldenretriever_spark.index.blocks import (
    BLOCK_SIZE,
    pack_exchange,
    salt_col,
    split_blocks,
)
from goldenretriever_spark.index.codec import (
    decode_position_blocks,
    delta_encode_grouped,
    varint_encode_grouped,
)

POS_BLOCKS_SCHEMA = (
    "term string, salt int, block_id long, n int, "
    "docno_min long, docno_max long, "
    "docnos_delta_varint binary, pos_counts_varint binary, "
    "positions_delta_varint binary"
)


def pack_positions(
    postings: DataFrame,
    target_positions_per_group: int = 1_000_000,
    n_term_buckets: int = 64,
    block_docs: int = BLOCK_SIZE,
) -> DataFrame:
    """Postings (term, doc_id, tf, docno, positions) -> compressed
    positional blocks keyed by docno (doc_id only feeds the salt).

    The salt is sized by collection frequency cf = Σtf per term (a
    positional group's position count). The cf groupBy partially
    aggregates map-side, so its shuffle is vocab-sized.

    Each posting is one doc run of the shared block split
    (blocks.split_blocks); the worker adds the positions payload, the rows'
    position arrays concatenated — whole-array numpy, no per-block or
    per-doc Python loops.
    """
    # Only terms hot enough to need MORE than one salt group matter to the
    # salt computation (cf < target -> ceil(cf/target) = 1 -> salt 0), and
    # those are the vocabulary HEAD — a handful of rows. Broadcasting just
    # the hot slice instead of the full vocab-sized cf frame keeps the
    # per-row probe against a tiny map and the broadcast build O(hot terms)
    # (r7, guide §3.1; the full-cf aggregate still runs once to FIND the
    # hot terms, but never ships per-row).
    hot_cf = (
        postings.groupBy("term")
        .agg(F.sum("tf").cast("long").alias("cf"))
        .filter(F.col("cf") >= target_positions_per_group)
    )
    salted = postings.join(F.broadcast(hot_cf), "term", "left").select(
        "term",
        salt_col(F.col("cf"), target_positions_per_group).alias("salt"),
        "docno",
        "tf",
        "positions",
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        starts, ends, head = split_blocks(
            pdf["term"].to_numpy(),
            pdf["salt"].to_numpy(),
            pdf["docno"].to_numpy(dtype=np.int64),
            block_docs,
        )
        # each doc's positions are tf consecutive values of the flat buffer,
        # and blocks tile the docs contiguously, so a block's positions are
        # one slice of it
        pos_off = np.zeros(tfs.size + 1, dtype=np.int64)
        np.cumsum(tfs, out=pos_off[1:])
        # positions delta-encoded with a reset at EVERY doc boundary — the
        # decode rebuilds per-doc runs from pos_counts alone
        pos_deltas = delta_encode_grouped(
            np.concatenate(pdf["positions"].to_list()), pos_off[:-1]
        )
        return pd.DataFrame(
            {
                **head,
                "pos_counts_varint": varint_encode_grouped(
                    tfs.astype(np.uint64), starts, ends
                ),
                "positions_delta_varint": varint_encode_grouped(
                    pos_deltas, pos_off[starts], pos_off[ends]
                ),
            }
        )

    return pack_exchange(salted, ["docno"], pack, POS_BLOCKS_SCHEMA, n_term_buckets)


def pack_positional_blocks(
    documents: DataFrame,
    tokenizer: str = "simple",
    postings: DataFrame | None = None,
    target_positions_per_group: int = 1_000_000,
    n_term_buckets: int = 64,
    block_docs: int = BLOCK_SIZE,
) -> DataFrame:
    """Convenience: corpus -> compressed positional blocks in one plan.

    ``postings``: the index's postings (build.build_index over the same
    ``documents``), which carry each posting's docno and positions; they
    are packed as they are (:func:`pack_positions`). Without them they are
    built here from ``documents``."""
    if postings is None:
        from goldenretriever_spark.index.build import build_index

        postings = build_index(documents, tokenizer, persist=False).postings
    return pack_positions(
        postings,
        target_positions_per_group=target_positions_per_group,
        n_term_buckets=n_term_buckets,
        block_docs=block_docs,
    )


DECODE_COLS = [
    "term",
    "docnos_delta_varint",
    "pos_counts_varint",
    "positions_delta_varint",
]


def _decode(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return decode_position_blocks(
        pdf["docnos_delta_varint"],
        pdf["pos_counts_varint"],
        pdf["positions_delta_varint"],
    )


def phrase_offsets(phrases: list[tuple[int, list[str]]]) -> dict[str, list[tuple[int, int]]]:
    """term -> every (query_id, offset) at which it occurs in ``phrases``."""
    term2qo: dict[str, list[tuple[int, int]]] = {}
    for qid, ph in phrases:
        for off, t in enumerate(ph):
            term2qo.setdefault(t, []).append((qid, off))
    return term2qo


def phrase_votes(
    pdf: pd.DataFrame, term2qo: dict[str, list[tuple[int, int]]]
) -> pd.DataFrame | None:
    """One batch of positional block rows (``DECODE_COLS``) -> phrase
    start-votes ``(query_id, doc_id, start)``, or None when it emits none:
    each decoded position of term t votes once per (query_id, offset) pair
    of :func:`phrase_offsets` whose phrase contains t, with
    ``start = pos - offset``. The body of both hosts:
    :func:`decode_phrase_votes`' workers and the in-process
    query/phrase.phrase_match_local.

    The expansion loop is per (term, query, offset) — bounded by the QUERY
    batch size, never by data volume; inside it everything is whole-array
    numpy over the term's decoded positions."""
    doc_per_pos, positions, pos_per_block = _decode(pdf)
    if doc_per_pos.size == 0:
        return None
    # per-term position slices via a term-code indirection (no
    # per-position string materialization)
    term_codes, uniq_terms = pd.factorize(pdf["term"])
    code_per_pos = np.repeat(term_codes, pos_per_block)
    q_parts: list[np.ndarray] = []
    d_parts: list[np.ndarray] = []
    s_parts: list[np.ndarray] = []
    for code, term in enumerate(uniq_terms):
        pairs = term2qo.get(term)
        if not pairs:
            continue
        mask = code_per_pos == code
        t_pos = positions[mask]
        t_doc = doc_per_pos[mask]
        if t_pos.size == 0:
            continue
        for qid, off in pairs:
            q_parts.append(np.full(t_pos.size, qid, dtype=np.int64))
            d_parts.append(t_doc)
            s_parts.append(t_pos - off)
    if not q_parts:
        return None
    return pd.DataFrame(
        {
            "query_id": np.concatenate(q_parts),
            "doc_id": np.concatenate(d_parts),
            "start": np.concatenate(s_parts),
        }
    )


def decode_phrase_votes(
    blocks: DataFrame, phrases: list[tuple[int, list[str]]]
) -> DataFrame:
    """Positional blocks -> phrase start-votes ``(query_id, doc_id, start)``
    in ONE worker pass (r7, guide §4.2; the body is :func:`phrase_votes`).

    Fuses the block decode with the vote expansion that used to be a
    JVM broadcast join: exactly the row multiset the join produced (same
    uniqueness argument: (start, offset) determines pos), but term strings
    never cross Arrow back to the JVM and the downstream plan needs no join
    — callers repartition by (query_id, doc_id) once and run both vote
    aggregations exchange-free (query/phrase.phrase_match_stored_batch).
    """
    term2qo = phrase_offsets(phrases)

    def gen(batches):
        for pdf in batches:
            votes = phrase_votes(pdf, term2qo)
            if votes is not None:
                yield votes

    return blocks.select(*DECODE_COLS).mapInPandas(
        gen, schema="query_id long, doc_id long, start long"
    )


def decode_position_codes(blocks: DataFrame, terms: list[str]) -> DataFrame:
    """Positional blocks -> (code, doc_id, pos) rows where ``code`` is the
    index of the block's term in ``terms`` — the stored proximity path's
    decode (query/phrase.proximity_match_stored). An int term code crosses
    Arrow instead of a repeated term string (r7, guide §4.2); rows whose
    term is not in ``terms`` are dropped (the pruned scan normally contains
    none)."""
    code_of = {t: i for i, t in enumerate(terms)}

    def unpack(batches):
        for pdf in batches:
            doc_per_pos, positions, pos_per_block = _decode(pdf)
            if doc_per_pos.size == 0:
                continue
            codes_per_block = np.array(
                [code_of.get(t, -1) for t in pdf["term"]], dtype=np.int64
            )
            code_per_pos = np.repeat(codes_per_block, pos_per_block)
            keep = code_per_pos >= 0
            if not keep.all():
                code_per_pos = code_per_pos[keep]
                doc_per_pos = doc_per_pos[keep]
                positions = positions[keep]
            if doc_per_pos.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "code": code_per_pos,
                    "doc_id": doc_per_pos,
                    "pos": positions,
                }
            )

    return blocks.select(*DECODE_COLS).mapInPandas(
        unpack, schema="code long, doc_id long, pos long"
    )
