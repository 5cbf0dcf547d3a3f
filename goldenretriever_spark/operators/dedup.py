"""Deduplication operators for training-data pipelines (first-class, per the
build brief): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Design for 100 TB:
- exact dedup is one hash-shuffle on the content digest (map-side partial agg)
- candidate generation never goes O(n^2): MinHash bands / LSH buckets /
  shingle-inverted-index joins produce candidate pairs; only candidates are
  verified
- all hashing is md5-based (lexicographic min over salted shingle digests) so
  every stage is portable column SQL — the DuckDB oracle computes identical
  signatures, making even the LSH pipelines value-hash checkable

Reference analogs: dedupe-before-encode (index_encode.py:15, eval.py:83) is
exact dedup; the rest generalize it to near-duplicate detection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.tokenizer import SIMPLE_SPLIT_RE

N_MINHASH_BANDS = 8
SHINGLE_K = 3

# Hot-bucket cap: an LSH bucket / shingle posting with > cap members yields
# O(cap^2) candidate pairs; one viral boilerplate document must not produce a
# quadratic blowup inside its bucket. Buckets above the cap are dropped —
# they are non-discriminative (everything matches everything) and standard
# MinHash-dedup practice prunes them. The DuckDB oracles apply the SAME cap,
# so capped results stay hash-checkable.
MAX_BUCKET_SIZE = 1000


def _drop_hot_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Remove all rows belonging to bucket keys with > cap members.

    groupBy shares its shuffle key with the downstream self-join. The
    oversized-key list is usually tiny (viral boilerplate only), but on a
    heavily templated corpus MANY buckets can exceed the cap — no forced
    broadcast hint here; AQE broadcasts the anti-join side when it is
    actually small and falls back to a shuffled join when it is not."""
    big = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > cap)
        .select(*keys)
    )
    return df.join(big, keys, "left_anti")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _toks(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), SIMPLE_SPLIT_RE)


def _shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles as strings."""
    toks = _toks(text)
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5(text) -> canonical doc (min doc_id) + group
    size, keeping only real duplicate groups. The driver corpus has no exact
    dups, so the query first injects deterministic duplicates (every 10th doc
    re-appended under doc_id+100000) — the dedup then provably finds exactly
    those."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = d.union(dups)
    return (
        corpus.groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix: per band b, sig_b = min over shingles of
    md5(b || shingle). Salting the digest with the band id gives independent
    permutations; lexicographic min over hex digests is a valid min-hash."""
    d = _docs(spark, sf_dir)
    # explode + aggregate (NOT N array_min(transform(...)) columns: embedding
    # the shingle expression tree once per band makes Catalyst codegen blow
    # up; the agg form is also the shape that scales — one shuffle keyed on
    # doc_id with partial min aggregation)
    ex = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))).alias(f"sig{b}")
        for b in range(N_MINHASH_BANDS)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def q_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, max_bucket_size: int = MAX_BUCKET_SIZE
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band signature.
    shingle -> minhash -> band -> bucket-join (SURVEY training-data ops).

    The bucket join is an equi-join on (band, signature) — at scale the
    signature table shuffles once; hot buckets (viral boilerplate) are capped
    at ``max_bucket_size`` members BEFORE the self-join so pair count stays
    O(n * cap), never quadratic in one bucket (AQE skew-join splits what
    remains)."""
    sigs = q_minhash_signatures(spark, sf_dir)
    long = sigs.selectExpr(
        "doc_id",
        "stack({n}, {args}) as (band, sig)".format(
            n=N_MINHASH_BANDS,
            args=", ".join(f"{b}, sig{b}" for b in range(N_MINHASH_BANDS)),
        ),
    )
    if max_bucket_size:
        long = _drop_hot_buckets(long, ["band", "sig"], max_bucket_size)
    a = long.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = long.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def q_ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.2,
    max_shingle_df: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via a shingle inverted index:
    explode distinct shingles -> self-join on shingle (candidate generation)
    -> count common -> |J| = common / (|A|+|B|-common) >= threshold.

    Never materializes non-overlapping pairs — the join only produces pairs
    sharing >=1 shingle (this is the scalable pattern; the O(n^2) loop is
    what it replaces). Shingles appearing in > ``max_shingle_df`` docs are
    dropped before the join (hot-shingle cap): they are non-discriminative
    and would otherwise make one boilerplate shingle quadratic. With the cap
    active the Jaccard is computed over the surviving shingle set — |A|/|B|
    are recounted AFTER the cap (not the raw sizes), so dropping a hot
    shingle from both docs cannot bias J downward and drop true near-dups —
    the DuckDB oracle applies the identical cap + recount."""
    d = _docs(spark, sf_dir).select("doc_id", _shingles(F.col("text")).alias("sh"))
    ex = d.select("doc_id", F.explode("sh").alias("shingle"))
    if max_shingle_df:
        ex = _drop_hot_buckets(ex, ["shingle"], max_shingle_df)
    # per-doc surviving-shingle count; shares the doc_id shuffle with nothing
    # downstream (the candidate join shuffles on shingle) but is n_docs-sized
    sized = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ex = ex.join(sized, "doc_id")
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "shingle")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jacc = common.withColumn(
        "jaccard_q",
        F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")) * 10000).cast(
            "long"
        ),
    )
    return jacc.filter(F.col("jaccard_q") >= int(threshold * 10000)).select(
        "doc_a", "doc_b", "common", "jaccard_q"
    )


def _hex4_to_int(hexpr: Column) -> Column:
    """Portable hex-nibble parse (conv() exists in Spark but not DuckDB; this
    strpos form is generated identically for the oracle SQL)."""
    alphabet = "0123456789abcdef"
    out = F.lit(0)
    for i in range(4):
        out = out * 16 + (F.instr(F.lit(alphabet), F.substring(hexpr, i + 1, 1)) - 1)
    return out


def q_simhash(spark: SparkSession, sf_dir: str, bits: int = 16) -> DataFrame:
    """SimHash document signatures (bits from md5-derived 16-bit token
    hashes, weighted by token tf). Near-dups differ in few bits; pairs within
    Hamming distance r are found by pigeonhole band-joins at scale.

    Pure column arithmetic (portable to the oracle): token hash h(t) = int of
    md5(t)[1:4]; bit_k(v) = floor(v / 2^k) % 2; simhash bit k set iff
    sum_t tf * (2*bit_k - 1) > 0.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(_toks(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    h = tf.withColumn("h16", _hex4_to_int(F.substring(F.md5("term"), 1, 4)).cast("int"))
    # bit k via shiftright (NOT double-divide + cast: Spark truncates casts,
    # DuckDB rounds them — >> is portable)
    acc = [
        F.sum(F.col("tf") * (2 * (F.shiftright(F.col("h16"), k) % 2) - 1)).alias(f"s{k}")
        for k in range(bits)
    ]
    sums = h.groupBy("doc_id").agg(*acc)
    sim = sums.select(
        "doc_id",
        sum(
            (F.when(F.col(f"s{k}") > 0, F.lit(2**k)).otherwise(F.lit(0)) for k in range(bits)),
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sim


def q_simhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 16,
    max_hamming: int = 3,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``, found
    by the pigeonhole band-join: split the ``bits``-bit signature into
    ``max_hamming + 1`` bands — any pair differing in <= max_hamming bits
    agrees EXACTLY on at least one band, so the equi-join on (band,
    band_value) is a lossless candidate generator (Manku et al., WWW 2007).
    Candidates are verified with the exact popcount of the XOR. Hot bands are
    capped like LSH buckets."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    sims = q_simhash(spark, sf_dir, bits)
    long = sims.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band * {band_bits}) % {2 ** band_bits}"),
    )
    if max_bucket_size:
        long = _drop_hot_buckets(long, ["band", "band_val"], max_bucket_size)
    a = long.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "band_val")
    b = long.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "band_val")
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_neardup_pairs(
    e: DataFrame,
    threshold: float = 0.35,
    probe_radius: int = 1,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by deterministic LSH
    bucket (random-hyperplane sign bits — the SAME bucketing the ANN path
    uses, ann.bucket_col), never all-pairs.

    Recall knob: with probe_radius=1 a pair is a candidate iff the two
    buckets differ in <= 1 sign bit (multi-probe, Lv et al. VLDB'07) — docs
    straddling one hyperplane are still found; cost is (1+P)/2^P of the
    full cross-join at P planes. Hot buckets are capped like every other
    dedup blocking key (viral boilerplate must not go quadratic). Hyperplanes
    are seeded literals, so the DuckDB oracle recomputes identical buckets.

    e: DataFrame(vec_id, embedding: array<float>, ...).
    """
    from goldenretriever_spark.operators.ann import (
        bucket_col,
        cosine_col,
        hyperplanes,
        probe_masks,
    )

    planes = hyperplanes()
    masks = probe_masks(len(planes), probe_radius)

    eb = e.select("vec_id", "embedding").withColumn(
        "bucket", bucket_col(F.col("embedding"), planes)
    )
    if max_bucket_size:
        eb = _drop_hot_buckets(eb, ["bucket"], max_bucket_size)
    a = (
        eb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket")
        .withColumn("mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("bucket", F.col("bucket").bitwiseXOR(F.col("mask")))
        .drop("mask")
    )
    b = eb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket")
    # cosine is computed BEFORE the probe-hit dedup: a pair found via several
    # probe buckets recomputes 64 multiplies per hit, but the dedup shuffle
    # then carries (id_a, id_b, long) instead of two 64-dim vectors — ~100x
    # fewer shuffle bytes at scale (max == any: the value is identical per pair)
    cos = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("va"), F.col("vb")) * 10000)
            .cast("long")
            .alias("cosine_q"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine_q").alias("cosine_q"))
    )
    return cos.filter(F.col("cosine_q") >= int(threshold * 10000))


def q_embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    return embedding_neardup_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=threshold
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup pairs -> dup CLUSTERS: (id, component) with component = the
    minimum id reachable through the undirected edge set — the step a real
    dedup pipeline runs after pair generation (keep min-id per component,
    drop the rest).

    Alternating large-star / small-star edge rewrites (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014):

    - large-star: every node u links each STRICTLY LARGER neighbor to
      m(u) = min of u's closed neighborhood;
    - small-star: with edges oriented large->small, every node u links its
      (all smaller) neighbors and itself to their minimum.

    Both steps are a groupBy-min (map-side partial aggregation — a giant
    component's root neighborhood combines locally before any shuffle, so
    it never funnels every label through one join key; BENCH/CC_SKEW.json
    measured 2.9x fewer shuffle records than label propagation with pointer
    doubling) followed by an equi-join back to the edge list. Edges
    monotonically point downward and the potential function of Kiveris et
    al. guarantees O(log^2 n) rounds;
    at the fixpoint the edge set is exactly the star forest
    (node -> component min). Convergence is EXACT (ADVICE r5): a round pair
    converged iff the new edge set has the same count as the old AND the
    anti-join of new against old is empty — both sets are distinct rows, so
    that is set equality with no hash-collision failure mode; the per-round
    driver cost is two tiny actions on already-checkpointed frames. If
    ``max_iter`` is exhausted first the edge set is NOT a star forest and
    the labels would be wrong, so non-convergence raises (ADVICE r4).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # node set from the UNFILTERED edge list (ADVICE r5): a node appearing
    # only in self-loop edges is still a (singleton) node of itself
    nodes = (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical large->small orientation, deduped
    e = (
        sym.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(df: DataFrame) -> DataFrame:
        und = df.unionByName(df.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = und.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        return (
            und.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # df is large->small oriented: all neighbors of key a are < a
        m = df.groupBy("a").agg(F.min("b").alias("m"))
        linked = df.join(m, "a")
        out = (
            linked.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(linked.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        return out

    n_prev = e.count()
    for _ in range(max_iter):
        prev = e
        e = large_star(e).localCheckpoint(eager=True)
        e = small_star(e).localCheckpoint(eager=True)
        n_new = e.count()
        # exact set equality: equal counts + empty anti-join (both distinct)
        if n_new == n_prev and e.join(prev, ["a", "b"], "left_anti").isEmpty():
            break
        n_prev = n_new
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within max_iter={max_iter} "
            "round pairs; edge set is not yet a star forest"
        )
    # star forest -> labels; isolated-from-rewrite roots label themselves
    mapping = e.groupBy("a").agg(F.min("b").alias("component")).withColumnRenamed(
        "a", "id"
    )
    return nodes.join(mapping, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def q_dedup_components(spark: SparkSession, sf_dir: str, max_hamming: int = 1) -> DataFrame:
    """Contract query: SimHash near-dup pairs -> connected components
    (:func:`connected_components_star`). Output (doc_id, component_id) for
    every document that appears in at least one near-dup pair;
    component_id = min doc_id of the cluster (the
    canonical survivor a keep-one dedup retains). Hamming <= 1 edges are NOT
    transitive, so clusters genuinely need the graph fixpoint (1-bit steps
    chain into larger clusters) — the band-join still generates candidates
    pigeonhole-losslessly because the pair op bands for Hamming <= 3."""
    pairs = q_simhash_pairs(spark, sf_dir).filter(F.col("hamming") <= max_hamming)
    return connected_components_star(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("component_id")
    )


def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str, max_hamming: int = 1) -> DataFrame:
    """The end product of the near-dup pipeline: the corpus with every
    non-canonical cluster member dropped (keep min doc_id per SimHash
    component, keep all docs with no near-dup). pairs -> components ->
    anti-join: the anti side carries only (doc_id) longs, never text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comp = q_dedup_components(spark, sf_dir, max_hamming=max_hamming)
    losers = comp.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )
