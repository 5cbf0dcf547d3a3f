"""Persisted positional postings: compressed (term, docno, positions) blocks.

Phrase and proximity search (query/phrase.py) consume ``(term, doc_id, pos)``
rows. Serving them by re-tokenizing the corpus per query is a full scan — the
one scale-killer the r5 audit named. This module persists the positional
postings ONCE at index-build time. It holds only what is positional: the
``posexplode`` token rows, their collapse into doc runs, the positions
payload and its decoders. The blocking is index/blocks.py's, shared with the
BM25 posting blocks — the same contiguous doc-id-range salt, block split and
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
positions, not df) because a positional group's row count is Σtf, not doc
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


def positional_rows(
    documents: DataFrame, tokenizer: str = "simple"
) -> DataFrame:
    """input_hint corpus -> (term, doc_id, pos) rows, one per token.

    ``posexplode`` over the tokenized content emits the 0-based token index
    for free — map-side only, no shuffle, no Python."""
    from goldenretriever_spark.index.build import tokenized

    return tokenized(documents, tokenizer).select(
        "doc_id", F.posexplode("tokens").alias("pos", "term")
    ).select("term", "doc_id", "pos")


def pack_positions(
    rows: DataFrame,
    postings: DataFrame | None = None,
    target_positions_per_group: int = 1_000_000,
    n_term_buckets: int = 64,
    block_docs: int = BLOCK_SIZE,
) -> DataFrame:
    """(term, doc_id, docno, pos) rows -> compressed positional blocks
    keyed by docno (doc_id only feeds the salt).

    The salt is sized by collection frequency cf = Σtf per term (a
    positional group's row count). ``postings``: pass the (usually cached)
    BM25 postings to sum their tf and skip a second pass over the tokens;
    without them every row counts once. The cf groupBy partially
    aggregates map-side, so its shuffle is vocab-sized.

    The worker collapses the (term, salt, docno, pos)-sorted token rows
    into doc runs, which the shared block split (blocks.split_blocks) cuts
    into blocks, and adds the positions payload — whole-array numpy, no
    per-block or per-doc Python loops.
    """
    counted = postings if postings is not None else rows.select(
        "term", F.lit(1).alias("tf")
    )
    # Only terms hot enough to need MORE than one salt group matter to the
    # salt computation (cf < target -> ceil(cf/target) = 1 -> salt 0), and
    # those are the vocabulary HEAD — a handful of rows. Broadcasting just
    # the hot slice instead of the full vocab-sized cf frame keeps the
    # per-row probe against a tiny map and the broadcast build O(hot terms)
    # (r7, guide §3.1; the full-cf aggregate still runs once to FIND the
    # hot terms, but never ships per-row).
    hot_cf = (
        counted.groupBy("term")
        .agg(F.sum("tf").cast("long").alias("cf"))
        .filter(F.col("cf") >= target_positions_per_group)
    )
    salted = rows.join(F.broadcast(hot_cf), "term", "left").select(
        "term",
        salt_col(F.col("cf"), target_positions_per_group).alias("salt"),
        "docno",
        "pos",
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        terms = pdf["term"].to_numpy()
        salts = pdf["salt"].to_numpy(dtype=np.int64)
        ids = pdf["docno"].to_numpy(dtype=np.int64)
        n_rows = len(pdf)

        # collapse token rows into doc runs: a run starts wherever
        # (term, salt, docno) changes
        doc_change = np.empty(n_rows, dtype=bool)
        doc_change[0] = True
        doc_change[1:] = (
            (terms[1:] != terms[:-1])
            | (salts[1:] != salts[:-1])
            | (ids[1:] != ids[:-1])
        )
        doc_starts = np.flatnonzero(doc_change)
        doc_ends = np.append(doc_starts[1:], n_rows)
        starts, ends, head = split_blocks(
            terms[doc_starts], salts[doc_starts], ids[doc_starts], block_docs
        )

        # blocks tile the doc runs contiguously, so each block's token rows
        # are one slice of the positions buffer
        r_starts = doc_starts[starts]
        r_ends = np.append(r_starts[1:], n_rows)
        # positions delta-encoded with a reset at EVERY doc boundary — the
        # decode rebuilds per-doc runs from pos_counts alone
        pos_deltas = delta_encode_grouped(
            pdf["pos"].to_numpy(dtype=np.int64), doc_starts
        )
        return pd.DataFrame(
            {
                **head,
                "pos_counts_varint": varint_encode_grouped(
                    (doc_ends - doc_starts).astype(np.uint64), starts, ends
                ),
                "positions_delta_varint": varint_encode_grouped(
                    pos_deltas, r_starts, r_ends
                ),
            }
        )

    return pack_exchange(
        salted, ["docno", "pos"], pack, POS_BLOCKS_SCHEMA, n_term_buckets
    )


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
    ``documents``). They carry each doc's docno, which a broadcast of their
    doc-level (doc_id, docno) pairs attaches to the token rows, and their
    tf sums the salt's cf (see :func:`pack_positions`). Without them the
    postings are built here, numbering the corpus once more: docno is a
    function of the corpus, so both numberings agree."""
    if postings is None:
        from goldenretriever_spark.index.build import build_index

        postings = build_index(documents, tokenizer, persist=False).postings
    docnos = postings.select("doc_id", "docno").distinct()
    return pack_positions(
        positional_rows(documents, tokenizer).join(F.broadcast(docnos), "doc_id"),
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


def decode_positions(blocks: DataFrame) -> DataFrame:
    """positional blocks -> (term, doc_id, pos) rows via one vectorized
    mapInPandas decode (codec.decode_position_blocks); ``doc_id`` carries
    the blocks' doc keys (docnos in a v2 index)."""

    def unpack(batches):
        for pdf in batches:
            doc_per_pos, positions, pos_per_block = _decode(pdf)
            if doc_per_pos.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), pos_per_block),
                    "doc_id": doc_per_pos,
                    "pos": positions,
                }
            )

    return blocks.select(*DECODE_COLS).mapInPandas(
        unpack, schema="term string, doc_id long, pos long"
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

    Fuses :func:`decode_positions` with the vote expansion that used to be a
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
    decode (query/phrase.proximity_match_stored). Same vectorized decode as
    :func:`decode_positions`, but an int term code crosses Arrow instead of
    a repeated term string (r7, guide §4.2); rows whose term is not in
    ``terms`` are dropped (the pruned scan normally contains none)."""
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
