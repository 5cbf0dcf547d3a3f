"""KB (knowledge-base) sources: the reference's data-model entry points.

Reference semantics re-expressed on DataFrames:
- parse_csv (kb_handler.py:251-271, S1-S3): read QA CSV, normalize columns to
  raw_string/context_string/query_string, default-fill, dedupe
- parse_text (kb_handler.py:178-249, S4): split raw text into clauses on
  blank lines, optional first-line-as-query
- unique_indexing / generate_mappings (kb_handler.py:15-53, J1/W5): dense ids
  by first occurrence; the (query_idx, response_idx) mapping pairs
- create_df (kb_handler.py:64-88, J2): flatten queries x responses through
  the mapping, processed_string = context + ' ' + raw with newlines stripped

The engine-side kb tables:
    responses(response_id, raw_string, context_string, processed_string)
    queries(query_id, query_string)
    mapping(query_id, response_id)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import dense_number


def parse_csv(
    spark: SparkSession,
    path: str,
    answer_col: str = "ans_str",
    query_col: str = "query_str",
    context_col: str = "context_str",
    kb_name: str = "kb",
    cutoff: int | None = None,
) -> dict[str, DataFrame]:
    """QA CSV -> kb tables. Sniffed schema like pandas read_csv
    (kb_handler.py:269-270); missing context defaults to ''
    (kb_handler.py:141-146); 'nan' query strings dropped (kb_handler.py:363).
    ``cutoff`` keeps only the first N raw rows IN FILE ORDER, the reference's
    sample-size cutoff (data_preprocessing.py:75-89, SURVEY S2). Spark's
    ``limit`` alone does not promise file order on a multi-split scan, so the
    scan is coalesced to one partition first — correct and cheap here because
    QA knowledge bases are small curated files (the reference loads them
    whole into pandas); a cutoff over a multi-file corpus has no defined
    "first N" to preserve."""
    raw = spark.read.csv(path, header=True, inferSchema=True)
    if cutoff is not None:
        raw = raw.coalesce(1).limit(cutoff)
    cols = {c.lower(): c for c in raw.columns}
    ctx = (
        F.coalesce(F.col(cols[context_col.lower()]).cast("string"), F.lit(""))
        if context_col.lower() in cols
        else F.lit("")
    )
    qa = raw.select(
        F.col(cols[answer_col.lower()]).cast("string").alias("raw_string"),
        ctx.alias("context_string"),
        F.col(cols[query_col.lower()]).cast("string").alias("query_string"),
    ).filter(F.col("query_string").isNotNull() & (F.col("query_string") != "nan"))
    return build_kb(qa, kb_name)


def parse_text(
    spark: SparkSession, path: str, clause_sep: str = "\n\n", first_line_is_query: bool = True,
    kb_name: str = "kb",
) -> dict[str, DataFrame]:
    """Raw text -> clauses (split on blank lines), first clause line as the
    query when present (data_preprocessing.py:37-73)."""
    whole = spark.read.text(path, wholetext=True)
    clauses = (
        whole.select(F.explode(F.split(F.col("value"), clause_sep)).alias("clause"))
        .select(F.trim("clause").alias("clause"))
        .filter(F.length("clause") > 0)
    )
    if first_line_is_query:
        qa = clauses.select(
            F.trim(F.substring_index("clause", "\n", 1)).alias("query_string"),
            F.trim(
                F.expr("substring(clause, length(substring_index(clause, '\\n', 1)) + 2)")
            ).alias("raw_string"),
            F.lit("").alias("context_string"),
        ).filter(F.length("raw_string") > 0)
    else:
        qa = clauses.select(
            F.lit(None).cast("string").alias("query_string"),
            F.col("clause").alias("raw_string"),
            F.lit("").alias("context_string"),
        )
    return build_kb(qa, kb_name)


def unique_ids(df: DataFrame, col: str, id_col: str, start: int = 0) -> DataFrame:
    """Dense ids for distinct values, ordered deterministically by value
    (reference uses first-occurrence order, kb_handler.py:15-26; a distributed
    engine needs a stable total order instead — value order is the
    deterministic choice, SURVEY W5), from ``start``.

    Scale-safe: the engine's one dense numbering (index/build.dense_number,
    also the docno assignment); nothing in the plan funnels the data
    through one task, so a 10-TB responses table numbers in parallel."""
    numbered, _ = dense_number(df.select(col), col, id_col, start=start)
    return numbered.select(col, id_col)


def build_kb(qa: DataFrame, kb_name: str = "kb") -> dict[str, DataFrame]:
    """QA rows -> {responses, queries, mapping} with dense ids — the
    generate_mappings equi-join re-keyed to unique ids (kb_handler.py:28-53)."""
    qa = qa.withColumn(
        "processed_string",
        F.regexp_replace(
            F.concat_ws(" ", F.col("context_string"), F.col("raw_string")), "\n", ""
        ),
    )
    r_ids = unique_ids(qa, "raw_string", "response_id")
    q_ids = unique_ids(qa.filter(F.col("query_string").isNotNull()), "query_string", "query_id")
    responses = (
        qa.select("raw_string", "context_string", "processed_string")
        .dropDuplicates(["raw_string"])
        .join(r_ids, "raw_string")
        .select("response_id", "raw_string", "context_string", "processed_string")
        .withColumn("kb_name", F.lit(kb_name))
    )
    queries = q_ids.select("query_id", F.col("query_string")).withColumn(
        "kb_name", F.lit(kb_name)
    )
    mapping = (
        qa.join(r_ids, "raw_string")
        .join(q_ids, "query_string")
        .select("query_id", "response_id")
        .dropDuplicates()
    )
    return {"responses": responses, "queries": queries, "mapping": mapping}


def create_df(kb: dict[str, DataFrame]) -> DataFrame:
    """Flattened QA view: mapping x queries x responses (kb_handler.py:64-88)
    — inner equi-joins preserving many-to-many fan-out."""
    return (
        kb["mapping"]
        .join(kb["queries"].select("query_id", "query_string"), "query_id")
        .join(
            kb["responses"].select("response_id", "processed_string", "kb_name"),
            "response_id",
        )
        .select("query_id", "response_id", "query_string", "processed_string", "kb_name")
    )
