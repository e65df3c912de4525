"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis — registry wrappers over operators/ with DuckDB oracles wherever the
computation is SQL-expressible (exact dedup, Jaccard pairs, text stats,
vector cosine); hash-based operators (MinHash, SimHash — xxhash64 has no
DuckDB twin) are registered rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    clean_text, lang_id_column, quality_columns, quality_enrich, token_chunks,
    tokens,
)
from ..functions import vectors
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..sources.batch import load_table
from .sqlgen import sql_clean, sql_label  # noqa: F401  (sql_clean reused below)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").withColumn(
        "cleaned_text", clean_text(F.col("text")))


_SQL_DOCS = f"""
WITH docs AS (
    SELECT *, {sql_clean('text')} AS cleaned_text FROM documents
)
"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dd.exact_dedup(_docs(spark, sf_dir), "cleaned_text", "doc_id")
        .orderBy("keeper_id")
    )


ORACLE_DEDUP_EXACT = _SQL_DOCS + """
SELECT md5(cleaned_text) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       COUNT(*) AS copies
FROM docs
GROUP BY md5(cleaned_text)
ORDER BY keeper_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (prefix-blocked, SQL-expressible)
# ---------------------------------------------------------------------------

_PREFIX_TOKENS = 10
_JACCARD_THRESHOLD = 0.5
_SHINGLE_K = 3


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard, blocked on the md5 of the
    first 10 tokens (the planted dups are copy+suffix, so prefix blocking
    has full recall there while keeping the pair space tiny). Unsorted —
    shared by the pair query and the cluster query."""
    from ..functions.text import shingles_from_tokens

    toked = _docs(spark, sf_dir).select(
        "doc_id", tokens(F.col("cleaned_text")).alias("toks"))
    # The self-join needs a hash-by-block exchange either way; issue it on
    # (doc_id, block, toks) and build the shingle sets AFTER it: the
    # exchange then carries the token arrays instead of the ~3x larger
    # distinct-3-gram arrays (guide §2.3), and the shingle construction —
    # the expensive interpreted part — runs spread over the shuffle
    # partitions instead of inside the scan stage, which for an
    # unsplittable single-row-group input file is ONE task (guide §2.5;
    # profiled a 0.98 s single-task stage at sf0.1). The explicit count
    # matches the join's requirement, so no second exchange appears, and
    # both join sides still share the one exchange.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    blocked = toked.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), 1, _PREFIX_TOKENS)))
        .alias("block"),
        "toks",
    ).repartition(n_parts, "block")
    docs = blocked.select(
        "doc_id", "block",
        F.array_distinct(shingles_from_tokens(F.col("toks"), _SHINGLE_K))
        .alias("sh"),
    )
    a = docs.toDF("a_id", "block", "a_sh")
    b = docs.toDF("b_id", "block", "b_sh")
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.array_union(F.col("a_sh"), F.col("b_sh")))
    # shuffle_hash, not broadcast: AQE would happily broadcast one side of
    # this self-join at test SFs, but the build side is the ENTIRE shingled
    # corpus — serialized through the driver, it's both slower today
    # (measured 1.09s -> 0.67s at sf0.1) and impossible at 100 TB. Hash
    # exchanges on the block key keep both sides distributed and identical,
    # so the exchange is computed once and reused.
    return (
        a.hint("shuffle_hash").join(b.hint("shuffle_hash"), "block")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir).orderBy("a_id", "b_id")


# DuckDB: shingle set via list comprehension over token positions; jaccard by
# list_intersect/list_distinct. Same prefix blocking, same threshold.
_SQL_JACCARD_PAIRS = _SQL_DOCS + f"""
, toked AS (
    SELECT doc_id,
           string_split(cleaned_text, ' ') AS toks
    FROM docs
), blocked AS (
    SELECT doc_id,
           md5(array_to_string(toks[1:{_PREFIX_TOKENS}], ' ')) AS block,
           CASE WHEN len(toks) < {_SHINGLE_K}
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct([
                    array_to_string(toks[i:i+{_SHINGLE_K}-1], ' ')
                    for i in range(1, len(toks) - {_SHINGLE_K} + 2)])
           END AS sh
    FROM toked
), pairs AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_intersect(a.sh, b.sh))
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))
                / len(list_distinct(list_concat(a.sh, b.sh))), 4)
          >= {_JACCARD_THRESHOLD}
)
"""

ORACLE_DEDUP_NGRAM = _SQL_JACCARD_PAIRS + """
SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: the jaccard pair graph closed under transitivity
    via distributed large-star/small-star connected components
    (operators/graph.py), each document labeled with its cluster minimum.
    Pairs answer "are these two copies?"; clusters answer the question
    curation actually asks — "keep exactly one of each group" — and
    transitive closure is what makes A~B, B~C collapse to one keeper even
    when A and C don't pair directly."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    cc = connected_components(_jaccard_pairs(spark, sf_dir), "a_id", "b_id")
    return (
        cc.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
    )


# Transitive closure by recursive CTE — tractable at oracle scale; the Spark
# side uses the O(log n)-round star-contraction algorithm instead.
ORACLE_DEDUP_CLUSTERS = _SQL_JACCARD_PAIRS.replace(
    "WITH docs", "WITH RECURSIVE docs") + """
, edges AS (
    SELECT a_id AS u, b_id AS v FROM pairs
    UNION
    SELECT b_id, a_id FROM pairs
), reach(node, r) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.node
), labels AS (
    SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT node AS doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# MinHash-LSH and SimHash near-dup (r6 verdict #4: both carry their
# correctness contracts INTO the oracle gate — minhash pair-by-pair
# against the exhaustive exact answer, simhash via invariant theorems)
# ---------------------------------------------------------------------------

def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, FULLY oracle-gated (upgraded from
    rows-only, r6 verdict #4): the DuckDB twin computes the EXHAUSTIVE
    exact-Jaccard pair set (unblocked postings self-join — no LSH, no
    prefix blocking) at the same rounded threshold, so pair-by-pair
    parity proves two things at once about the banded path: ZERO false
    positives (the exact-verify stage works) and FULL RECALL on this
    corpus (no true pair ever slips through the 8x4 banding — measured
    exact at sf0.001/0.01/0.1 before pinning). xxhash64 has no DuckDB
    twin, but it doesn't need one: the hashes only propose candidates,
    and the emitted SET is what the gate compares.

    The final filter cuts on round(j, 4) like every other jaccard query
    so both engines cut at identical boundaries."""
    docs = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, "cleaned_text", "doc_id")
    cands = dd.lsh_candidates(sigs, "doc_id")
    pairs = dd.jaccard_verify(docs, cands, "cleaned_text", "doc_id",
                              threshold=-1.0)   # cut on the ROUNDED value
    return (pairs.withColumn("jaccard", F.round("jaccard", 4))
            .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
            .orderBy("a_id", "b_id"))


# Exhaustive ground truth: postings self-join (two docs with jaccard > 0
# share a shingle), inter from the postings match, union from the two set
# sizes. No blocking anywhere — this is the full-recall referee for the
# banded Spark path.
ORACLE_DEDUP_MINHASH = _SQL_DOCS + f"""
, toked AS (
    SELECT doc_id, string_split(cleaned_text, ' ') AS toks FROM docs
), sets_ AS (
    SELECT doc_id,
           CASE WHEN len(toks) < {_SHINGLE_K}
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct([
                    array_to_string(toks[i:i+{_SHINGLE_K}-1], ' ')
                    for i in range(1, len(toks) - {_SHINGLE_K} + 2)])
           END AS sh
    FROM toked
), sizes AS (
    SELECT doc_id, len(sh) AS n FROM sets_
), post AS (
    SELECT doc_id, unnest(sh) AS s FROM sets_
), shared AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
    FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(inter / (sa.n + sb.n - inter), 4) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(inter / (sa.n + sb.n - inter), 4) >= {_JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


_SIMHASH_MAX_HAMMING = 14


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with its theorems carried into the oracle gate
    (upgraded from rows-only, r6 verdict #4). Hamming distance over
    xxhash64-seeded fingerprints has no DuckDB twin, so the gate pins
    what IS provable: (1) identical cleaned_text implies identical
    simhash implies hamming 0 implies the pair MUST be emitted —
    ``all_text_dup_pairs_emitted``, checked against the SQL-exact
    duplicate-pair count ``n_text_dup_pairs`` the twin recomputes
    independently; (2) the verify stage's bound — no emitted pair above
    max_hamming; (3) output canonical form — a_id < b_id, no duplicate
    pairs. The DuckDB twin recomputes the exact count and pins the three
    theorem booleans literally TRUE (the heavy_hitters/embed_documents
    recipe, r5 verdict #7)."""
    docs = _docs(spark, sf_dir)
    emitted = dd.simhash_near_duplicates(
        docs, "cleaned_text", "doc_id").localCheckpoint()
    ids = docs.select("doc_id", "cleaned_text")
    same = (ids.toDF("a_id", "t").join(ids.toDF("b_id", "t"), "t")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id"))
    n_dup = same.agg(
        F.count(F.lit(1)).alias("n_text_dup_pairs"))
    all_emitted = (same.join(emitted, ["a_id", "b_id"], "left_anti")
                   .agg((F.count(F.lit(1)) == 0)
                        .alias("all_text_dup_pairs_emitted")))
    h_ok = emitted.agg(
        F.coalesce(F.every(F.col("hamming") <= _SIMHASH_MAX_HAMMING),
                   F.lit(True)).alias("max_hamming_within_bound"))
    canonical = emitted.agg(
        (F.coalesce(F.every(F.col("a_id") < F.col("b_id")), F.lit(True))
         & (F.count(F.lit(1))
            == F.count_distinct(F.col("a_id"), F.col("b_id"))))
        .alias("pairs_canonical"))
    # 1-row theorem scalars: broadcast anchors (the heavy_hitters pattern
    # — bounded subtrees, lint-clean; never corpus-sized)
    return (n_dup.crossJoin(F.broadcast(all_emitted))
            .crossJoin(F.broadcast(h_ok))
            .crossJoin(F.broadcast(canonical)))


ORACLE_DEDUP_SIMHASH = _SQL_DOCS + """
, grp AS (
    SELECT cleaned_text, COUNT(*) AS c FROM docs
    GROUP BY cleaned_text HAVING COUNT(*) >= 2
)
SELECT CAST(COALESCE(SUM(c * (c - 1) / 2), 0) AS BIGINT)
           AS n_text_dup_pairs,
       TRUE AS all_text_dup_pairs_emitted,
       TRUE AS max_hamming_within_bound,
       TRUE AS pairs_canonical
FROM grp
"""


# ---------------------------------------------------------------------------
# Embedding near-dup + similarity search
# ---------------------------------------------------------------------------

_EMB_SIM_THRESHOLD = 0.35   # testdata has no planted vector near-dups
_EMB_TOPK = 50              # (max within-label cosine ≈ 0.47), so this is a
                            # "most-similar pairs" report with the same plan
                            # shape as a 0.95-threshold near-dup sweep.


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-similar within-label pairs above 0.35 cosine — the
    embedding near-dup operator (thresholds filter on the rounded value so
    both engines cut at identical boundaries)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        dd.embedding_near_duplicates(
            emb, "embedding", "vec_id", block_col="label", threshold=-1.0)
        .withColumn("cosine", F.round(F.col("cosine"), 4))
        .filter(F.col("cosine") >= _EMB_SIM_THRESHOLD)
        .orderBy(F.desc("cosine"), "a_id", "b_id")
        .limit(_EMB_TOPK)
    )


ORACLE_DEDUP_EMBEDDING = f"""
WITH dots AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(
             list_sum(list_transform(range(1, len(a.embedding) + 1),
                      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT a_id, b_id, cosine
FROM dots
WHERE cosine >= {_EMB_SIM_THRESHOLD}
ORDER BY cosine DESC, a_id, b_id
LIMIT {_EMB_TOPK}
"""


def q_streaming_dedup_embedding(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Embedding near-dup flags maintained by STRUCTURED STREAMING — the
    seventh streaming=batch gate member, and the first with VECTOR state:
    the embeddings table consumed as a micro-batched file stream through
    ``streaming/sinks.py::embedding_dedup_sink`` (persisted vector store
    bucketed by the blocking key; per batch: store probe on the block +
    exact zip_with cosine verify + within-batch pairs), then the flag
    store read back.

    Every qualifying pair is discovered exactly once — by the later
    batch, or within its batch — so the flag SET is independent of how
    the stream was batched, and the oracle is simply the batch
    formulation: ALL within-label pairs at rounded cosine >=
    {_EMB_SIM_THRESHOLD} (the ``dedup_embedding`` oracle minus its
    presentation top-k). A probe that misses the store, double-counts a
    replay, or breaks the cosine algebra breaks the hash.
    """
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_through_store
    from ..streaming.sinks import embedding_dedup_sink, read_embedding_flags

    src = load_table_stream(spark, sf_dir, "embeddings") \
        .select("vec_id", "label", "embedding")
    res = drain_through_store(
        "embdedup_",
        lambda root: embedding_dedup_sink(
            src, f"{root}/store", f"{root}/ckpt",
            threshold=_EMB_SIM_THRESHOLD),
        lambda root: read_embedding_flags(spark, f"{root}/store")
        .select("a_id", "b_id", "cosine"))
    return res.orderBy("a_id", "b_id")


ORACLE_STREAMING_DEDUP_EMBEDDING = f"""
WITH dots AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(
             list_sum(list_transform(range(1, len(a.embedding) + 1),
                      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT a_id, b_id, cosine
FROM dots
WHERE cosine >= {_EMB_SIM_THRESHOLD}
ORDER BY a_id, b_id
"""


_LSH_BITS = 4    # 16 buckets — matches the sink's default store_buckets
_LSH_DIM = 64    # the testdata embeddings dimension (TESTDATA.md contract)


def _hyperplane_bucket_sql(emb_expr: str, bits: int, dim: int,
                           plane_offset: int = 0) -> str:
    """DuckDB twin of ``operators/similarity.py::hyperplane_bucket``: the
    SAME md5-derived ±1 planes inlined as literals, the same
    multiply-then-fold shape (list_transform → list_sum mirrors zip_with →
    aggregate), so bucket ids match bit-for-bit. Sign margins measured:
    min |dot| ≥ 1e-4 across all three SFs and all planes — 9 orders above
    double rounding, so the ``> 0`` test can never diverge between engines
    on this data."""
    from ..operators.similarity import _hyperplane

    terms = []
    for i in range(bits):
        lit = "[" + ",".join(
            f"{float(c):.1f}"
            for c in _hyperplane(plane_offset + i, dim)) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {dim} + 1), "
            f"j -> {emb_expr}[j]::DOUBLE * ({lit}::DOUBLE[])[j])) > 0 "
            f"THEN {1 << i} ELSE 0 END)")
    return "\n         + ".join(terms)


def q_streaming_dedup_embedding_lsh(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """``embedding_dedup_sink`` in its documented 100 TB blocking mode:
    the block key is a deterministic random-hyperplane LSH bucket
    (``operators/similarity.py::hyperplane_bucket``, {bits} bits over the
    {dim}-dim embeddings) computed map-side on the stream, NOT the
    corpus's own ``label`` — so the probe cost is Σ|bucket|²/history
    instead of Σ|label|², and recall becomes the banding probability
    (1 − θ/π)^bits per pair instead of exact-within-block.

    The flag-set contract is unchanged from ``streaming_dedup_embedding``
    (every qualifying pair discovered exactly once, batching-independent),
    so the oracle is the batch formulation over the SAME blocking: all
    same-bucket pairs at rounded cosine ≥ threshold, with the bucket
    computation replayed in DuckDB from the same md5-derived planes — a
    FULL value oracle for the blocking mode itself. Measured recall vs
    the exact within-label answer under the driver's vanilla session:
    0.071 / 0.192 / 0.136 at sf0.001/0.01/0.1 (cosines here sit at
    0.35–0.47 where the per-bit collision probability is only ~0.61–0.66;
    at a true near-dup threshold of 0.95 the same 4-bit block retains
    ~0.65 — the dial is ``bits``, documented on the sink; for OR-of-bands
    high recall see ``dedup_embedding_multiband``). The LSH block
    also surfaces cross-label similar pairs label-blocking can never see
    (51 vs 14 flags at sf0.001).
    """
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_through_store
    from ..streaming.sinks import embedding_dedup_sink, read_embedding_flags

    src = (load_table_stream(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding")
           .withColumn("bucket", sim.hyperplane_bucket(
               F.col("embedding"), _LSH_DIM, _LSH_BITS)))
    res = drain_through_store(
        "embdeduplsh_",
        lambda root: embedding_dedup_sink(
            src, f"{root}/store", f"{root}/ckpt", block_col="bucket",
            threshold=_EMB_SIM_THRESHOLD),
        lambda root: read_embedding_flags(spark, f"{root}/store")
        .select("a_id", "b_id", "cosine"))
    return res.orderBy("a_id", "b_id")


q_streaming_dedup_embedding_lsh.__doc__ = \
    q_streaming_dedup_embedding_lsh.__doc__.format(
        bits=_LSH_BITS, dim=_LSH_DIM)


ORACLE_STREAMING_DEDUP_EMBEDDING_LSH = f"""
WITH b AS (
    SELECT vec_id, embedding,
           {_hyperplane_bucket_sql('embedding', _LSH_BITS, _LSH_DIM)}
           AS bucket
    FROM embeddings
),
dots AS (
    SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
           round(
             list_sum(list_transform(range(1, len(a.embedding) + 1),
                      i -> a.embedding[i]::DOUBLE * b2.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(b2.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM b a JOIN b b2
      ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT a_id, b_id, cosine
FROM dots
WHERE cosine >= {_EMB_SIM_THRESHOLD}
ORDER BY a_id, b_id
"""


_MB_BANDS = 8     # OR-of-bands: recall 1-(1-p^r)^b ≈ 0.98 at cosine 0.35
_MB_BITS = 2      # r=2 bits per band — the bucket-size dial


def q_streaming_dedup_embedding_multiband(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """The OR-of-bands HIGH-RECALL streaming dedup sink
    (``streaming/sinks.py::embedding_dedup_multiband_sink``): the
    embeddings stream drained through a persisted (band, val)-bucketed
    banded store — per batch, the banded probe against strictly-earlier
    partitions plus the within-batch banded self-join, every collision
    exact-cosine verified and pair-deduped across bands. Flag-set
    batching independence holds band-by-band (each pair is discovered
    at the later vector's batch, in whatever bands it collides), so the
    oracle is the batch multiband formulation without the presentation
    top-k: every any-band-colliding pair at rounded cosine >= threshold
    — the same FULL value oracle family as ``dedup_embedding_multiband``
    (~0.98 recall vs exhaustive, measured; the third and highest-recall
    member of the streaming embedding-dedup trio)."""
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_through_store
    from ..streaming.sinks import (
        embedding_dedup_multiband_sink, read_embedding_flags,
    )

    src = (load_table_stream(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding"))
    res = drain_through_store(
        "embdedupmb_",
        lambda root: embedding_dedup_multiband_sink(
            src, f"{root}/store", f"{root}/ckpt", dim=_LSH_DIM,
            bands=_MB_BANDS, band_bits=_MB_BITS,
            threshold=_EMB_SIM_THRESHOLD),
        lambda root: read_embedding_flags(spark, f"{root}/store")
        .select("a_id", "b_id", "cosine"))
    return res.orderBy("a_id", "b_id")


def q_dedup_embedding_multiband(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Top-50 most-similar pairs found by OR-of-bands hyperplane LSH
    (``operators/similarity.py::multiband_lsh_pairs``) — the HIGH-RECALL
    unblocked-corpus answer to ``dedup_embedding``'s label blocking and
    ``streaming_dedup_embedding_lsh``'s single-block banding: {b}
    independent {r}-bit sign-bucket bands, candidate iff colliding in
    ANY band, every candidate exact-cosine verified. Candidate recall at
    this corpus's 0.35–0.47 cosines is ≈0.93–0.99 by the banding formula
    (measured 0.9651/0.9853/0.9819 vs the exhaustive all-pairs answer at
    sf0.001/0.01/0.1 under the driver's vanilla session, precision exact
    at every SF — floor 0.90 pinned in tests), with NO label attribute
    needed. r=2 is tuned to THIS corpus's wide angles; a production
    near-dup run picks r from its threshold so the join actually prunes
    — the dial economics are derived in the operator docstring
    (``multiband_lsh_pairs``).

    FULL value oracle: DuckDB replays the same md5-derived planes per
    band (sign margins ≥1e-4 at all SFs — see q_streaming_dedup_
    embedding_lsh), the same any-band candidate join, and the same
    verified cosine, so every emitted pair and score is exact-checked.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        sim.multiband_lsh_pairs(emb, "embedding", "vec_id", dim=_LSH_DIM,
                                bands=_MB_BANDS, band_bits=_MB_BITS,
                                threshold=_EMB_SIM_THRESHOLD)
        .orderBy(F.desc("cosine"), "a_id", "b_id")
        .limit(_EMB_TOPK)
    )


q_dedup_embedding_multiband.__doc__ = \
    q_dedup_embedding_multiband.__doc__.format(b=_MB_BANDS, r=_MB_BITS)


def _multiband_bands_sql() -> str:
    return "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {j} AS band,\n"
        f"           {_hyperplane_bucket_sql('embedding', _MB_BITS, _LSH_DIM, plane_offset=j * _MB_BITS)}"
        f" AS val\n    FROM embeddings"
        for j in range(_MB_BANDS))


ORACLE_DEDUP_EMBEDDING_MULTIBAND = f"""
WITH bands AS (
{_multiband_bands_sql()}
),
cand AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
),
dots AS (
    SELECT c.a_id, c.b_id,
           round(
             list_sum(list_transform(range(1, len(x.embedding) + 1),
                      i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
                * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           4) AS cosine
    FROM cand c
    JOIN embeddings x ON x.vec_id = c.a_id
    JOIN embeddings y ON y.vec_id = c.b_id
)
SELECT a_id, b_id, cosine
FROM dots
WHERE cosine >= {_EMB_SIM_THRESHOLD}
ORDER BY cosine DESC, a_id, b_id
LIMIT {_EMB_TOPK}
"""


ORACLE_STREAMING_DEDUP_EMBEDDING_MULTIBAND = f"""
WITH bands AS (
{_multiband_bands_sql()}
),
cand AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
),
dots AS (
    SELECT c.a_id, c.b_id,
           round(
             list_sum(list_transform(range(1, len(x.embedding) + 1),
                      i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(x.embedding, v -> v::DOUBLE * v::DOUBLE)))
                * sqrt(list_sum(list_transform(y.embedding, v -> v::DOUBLE * v::DOUBLE)))),
           4) AS cosine
    FROM cand c
    JOIN embeddings x ON x.vec_id = c.a_id
    JOIN embeddings y ON y.vec_id = c.b_id
)
SELECT a_id, b_id, cosine
FROM dots
WHERE cosine >= {_EMB_SIM_THRESHOLD}
ORDER BY a_id, b_id
"""


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 (excluded from results)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sim.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), list(qvec), "embedding", "vec_id", k=10)


ORACLE_KNN_BRUTEFORCE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT vec_id,
           round(
             list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
)
SELECT vec_id, cosine
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


_ANN_RECALL_FLOOR = 4   # of 10 — measured 5/7/7 at the three SFs; the
                        # md5 hyperplanes make the probe fully
                        # deterministic, the floor is pure headroom


def q_knn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH approximate top-10 for vec_id=0, with
    its contract carried into the oracle gate (upgraded from rows-only,
    r7 — the knn_ivf recipe): the DuckDB twin recomputes the EXACT cosine
    top-10 value-for-value, and two booleans ride along pinned TRUE —
    the ANN answer never scores above the exact best (an approximate
    path can only rediscover true cosines, so a violation means the
    scoring expression diverged), and the 22-of-64-bucket probe clears
    a 4/10 recall floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    corpus = emb.filter(F.col("vec_id") != 0)
    ann = sim.ann_topk(corpus, list(qvec), "embedding", "vec_id",
                       k=10, bits=6, probe_hamming=2).localCheckpoint()
    exact = sim.brute_force_topk(corpus, list(qvec), "embedding", "vec_id",
                                 k=10).localCheckpoint()
    n_corpus = corpus.agg(F.count(F.lit(1)).alias("n_corpus"))
    exact_ids = exact.agg(
        F.array_join(F.sort_array(F.collect_list("vec_id")), ",")
        .alias("exact_top10_ids"))
    best = exact.agg(F.max("cosine").alias("__best"))
    bound = (ann.agg(F.max("cosine").alias("__ann_best"))
             .crossJoin(F.broadcast(best))
             .select((F.col("__ann_best") <= F.col("__best"))
                     .alias("ann_within_exact_bound")))
    hits = (ann.join(exact.select("vec_id"), "vec_id", "left_semi")
            .agg((F.count(F.lit(1)) >= _ANN_RECALL_FLOOR)
                 .alias("recall_at_10_ok")))
    # 1-row theorem scalars: broadcast anchors (the dedup_simhash pattern)
    return (n_corpus.crossJoin(F.broadcast(exact_ids))
            .crossJoin(F.broadcast(bound))
            .crossJoin(F.broadcast(hits)))


ORACLE_KNN_ANN = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT vec_id,
           round(
             list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
), topk AS (
    SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
)
SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id <> 0) AS n_corpus,
       (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM topk)
           AS exact_top10_ids,
       TRUE AS ann_within_exact_bound,
       TRUE AS recall_at_10_ok
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row doubles round with the engine-exact floor idiom: Spark's
    # decimal HALF_UP and DuckDB's numeric round disagree on doubles a few
    # ulps under a …5 boundary (observed at sf0.1, functions/rounding.py)
    from ..functions.rounding import round_half_up
    from ..functions.text import bpe_ish_token_count

    docs = quality_enrich(_docs(spark, sf_dir))
    return docs.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        bpe_ish_token_count(F.col("cleaned_text")).cast("bigint")
        .alias("bpe_tokens"),
        round_half_up(F.col("stopword_ratio"), 4).alias("stopword_ratio"),
        round_half_up(F.col("avg_token_len"), 4).alias("avg_token_len"),
        round_half_up(F.col("quality_score"), 4).alias("quality_score"),
    )  # no orderBy: per-row output, driver hash is order-insensitive —
       # a global sort is pure shuffle cost at scale


ORACLE_TEXT_STATS = _SQL_DOCS + """
, feats AS (
    SELECT doc_id,
           length(cleaned_text) AS n_chars,
           CASE WHEN cleaned_text = '' THEN 0
                ELSE len(string_split(cleaned_text, ' ')) END AS n_tok,
           len(regexp_extract_all(cleaned_text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe_tokens,
           len(list_filter(string_split(cleaned_text, ' '), t -> t = 'the'))
             + len(list_filter(string_split(cleaned_text, ' '), t -> t = 'a'))
           AS stop_hits
    FROM docs
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
       floor((stop_hits / (n_tok + 1.0)) * 10000 + 0.5) / 10000
           AS stopword_ratio,
       floor(((n_chars - (n_tok - 1)) / (n_tok + 1.0)) * 10000 + 0.5) / 10000
           AS avg_token_len,
       floor((0.4 * least(n_tok / 100.0, 1.0)
              + 0.3 * (1.0 - stop_hits / (n_tok + 1.0))
              + 0.3 * least(((n_chars - (n_tok - 1)) / (n_tok + 1.0)) / 6.0,
                            1.0)) * 10000 + 0.5) / 10000 AS quality_score
FROM feats
ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the labeled lang column, aggregated.
    Stopword density comes from the staged quality pipeline (stopword_ratio
    is the same expression lang_id_column computes inline)."""
    docs = quality_enrich(_docs(spark, sf_dir)).withColumn(
        "lang_guess",
        F.when(F.col("stopword_ratio") > 0.05, F.lit("en"))
        .otherwise(F.lit("other")))
    return (
        docs.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("lang", "lang_guess")
    )


ORACLE_LANG_ID = _SQL_DOCS + """
, guessed AS (
    SELECT lang,
           CASE WHEN (len(list_filter(string_split(cleaned_text, ' '), t -> t = 'the'))
                      + len(list_filter(string_split(cleaned_text, ' '), t -> t = 'a')))
                     / ((CASE WHEN cleaned_text = '' THEN 0
                              ELSE len(string_split(cleaned_text, ' ')) END) + 1.0)
                     > 0.05
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM docs
)
SELECT lang, lang_guess, COUNT(*) AS doc_count
FROM guessed
GROUP BY lang, lang_guess
ORDER BY lang, lang_guess
"""


_FUNNEL_QUALITY_THRESHOLD = 0.5


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation funnel: raw → lang=en → quality ≥ 0.5 →
    exact-dedup survivors, reported as (stage, docs_kept, tokens_kept).

    Two map-side-combining aggregation passes (stage counts as conditional
    aggregates in one; keeper-per-fingerprint in the other), then a 1-row
    stack unpivot — never four filter+count jobs over the corpus, and the
    only shuffled rows are partial-agg outputs. Dedup-stage tokens use the
    keeper's (min-doc_id) token count per fingerprint, matching
    drop_exact_duplicates semantics (operators/dedup.py).
    """
    docs = quality_enrich(_docs(spark, sf_dir))
    en = F.col("lang") == "en"
    kept = en & (F.round(F.col("quality_score"), 4)
                 >= _FUNNEL_QUALITY_THRESHOLD)

    # keeper tokens per fingerprint: min_by over the kept rows only; the
    # outer agg then sums one value per distinct fingerprint
    per_fp = (
        docs.filter(kept)
        .groupBy(F.md5(F.col("cleaned_text")).alias("fp"))
        .agg(F.min_by("n_tokens", "doc_id").alias("keeper_tokens"))
        .agg(F.count(F.lit(1)).alias("dedup_docs"),
             F.sum("keeper_tokens").alias("dedup_tokens"))
    )
    stages = docs.agg(
        F.count(F.lit(1)).alias("raw_docs"),
        F.sum("n_tokens").alias("raw_tokens"),
        F.count(F.when(en, 1)).alias("en_docs"),
        F.sum(F.when(en, F.col("n_tokens"))).alias("en_tokens"),
        F.count(F.when(kept, 1)).alias("q_docs"),
        F.sum(F.when(kept, F.col("n_tokens"))).alias("q_tokens"),
    )
    return (
        stages.crossJoin(F.broadcast(per_fp))
        .select(F.expr(
            "stack(4, "
            "'1_raw', raw_docs, raw_tokens, "
            "'2_lang_en', en_docs, en_tokens, "
            "'3_quality', q_docs, q_tokens, "
            "'4_dedup', dedup_docs, dedup_tokens) "
            "AS (stage, docs_kept, tokens_kept)"))
        .orderBy("stage")
    )


# Same single-CTE shape: conditional counts + a keeper-per-fingerprint agg.
ORACLE_CURATION_FUNNEL = _SQL_DOCS + f"""
, feats AS (
    SELECT doc_id, lang,
           cleaned_text,
           CASE WHEN cleaned_text = '' THEN 0
                ELSE len(string_split(cleaned_text, ' ')) END AS n_tok,
           length(cleaned_text) AS n_chars,
           len(list_filter(string_split(cleaned_text, ' '), t -> t = 'the'))
             + len(list_filter(string_split(cleaned_text, ' '), t -> t = 'a'))
           AS stop_hits
    FROM docs
), scored AS (
    SELECT doc_id, lang, cleaned_text, n_tok,
           round(0.4 * least(n_tok / 100.0, 1.0)
                 + 0.3 * (1.0 - stop_hits / (n_tok + 1.0))
                 + 0.3 * least(((n_chars - (n_tok - 1)) / (n_tok + 1.0)) / 6.0,
                               1.0), 4) AS q
    FROM feats
), kept AS (
    SELECT * FROM scored
    WHERE lang = 'en' AND q >= {_FUNNEL_QUALITY_THRESHOLD}
), keepers AS (
    SELECT md5(cleaned_text) AS fp,
           min_by(n_tok, doc_id) AS keeper_tokens
    FROM kept GROUP BY md5(cleaned_text)
)
SELECT '1_raw' AS stage, COUNT(*) AS docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept FROM scored
UNION ALL
SELECT '2_lang_en', COUNT(*), CAST(SUM(n_tok) AS BIGINT)
FROM scored WHERE lang = 'en'
UNION ALL
SELECT '3_quality', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM kept
UNION ALL
SELECT '4_dedup', COUNT(*), CAST(SUM(keeper_tokens) AS BIGINT) FROM keepers
ORDER BY stage
"""


_SKETCH_RSD = 0.05          # approx_count_distinct default relative std dev
_SKETCH_PCT_ACC = 1000      # approx_percentile accuracy → ε = 1/acc
_SKETCH_PS = (0.5, 0.95, 0.99)


def q_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profile per event_type with BOTH sketches' error
    contracts carried into the oracle gate (upgraded from rows-only —
    r6 verdict #4's recipe extended to the last sketch family): HLL++
    distinct users (``approx_count_distinct``, a different implementation
    than the ``hll_sketch_agg`` the rolling-distinct gate covers) and
    approx_percentile value quantiles. Sketches merge associatively, so
    the profile is one map-side-combining shuffle at any scale — the
    exact versions (distinct shuffle / global sort) are the queries to
    avoid at 100 TB.

    Gate contract: ``exact_users`` is recomputed exactly by the DuckDB
    twin; ``hll_within_3rsd`` pins |approx − exact| ≤ 3·rsd·exact (the
    HLL++ standard-error envelope at the default rsd=0.05 — a >3σ miss
    means a merge/register bug, not noise); the three quantile booleans
    pin the GK rank contract at 3ε·N exactly as ``quantile_sketch`` does
    (probing p99 too, which that gate doesn't). The sketch aggregate is
    localCheckpointed — sketch values are merge-order-nondeterministic,
    so the rank probe must test the very values the query returns."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value")
    agg = (events.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("exact_users"),
                F.approx_count_distinct(
                    "user_id", _SKETCH_RSD).alias("__approx_users"),
                F.percentile_approx(
                    "value", list(_SKETCH_PS),
                    _SKETCH_PCT_ACC).alias("__qs"))
           .localCheckpoint())
    cuts = agg.select("event_type", "n_events", "exact_users",
                      "__approx_users",
                      *[F.col("__qs")[i].alias(f"__c{i}")
                        for i in range(len(_SKETCH_PS))])
    rank_aggs = []
    for i in range(len(_SKETCH_PS)):
        rank_aggs += [
            F.count(F.when(F.col("value") < F.col(f"__c{i}"), 1))
            .alias(f"__lt{i}"),
            F.count(F.when(F.col("value") <= F.col(f"__c{i}"), 1))
            .alias(f"__le{i}")]
    ranks = (events.join(cuts, "event_type")
             .groupBy("event_type").agg(*rank_aggs))
    eps = 3.0 / _SKETCH_PCT_ACC

    def rank_ok(i: int):
        # some rank in [lt+1, le] belongs to the returned value; GK holds
        # iff that interval meets [(p-ε)N, (p+ε)N] — byte-for-byte the
        # criterion quantile_sketch gates (queries/shaping.py::ok)
        p = _SKETCH_PS[i]
        lo = (F.lit(p) - eps) * F.col("n_events")
        hi = (F.lit(p) + eps) * F.col("n_events")
        return (F.col(f"__le{i}") >= lo) & (F.col(f"__lt{i}") <= hi)

    hll_ok = (F.abs(F.col("__approx_users") - F.col("exact_users"))
              <= F.lit(3 * _SKETCH_RSD) * F.col("exact_users"))
    return (cuts.join(ranks, "event_type")
            .select("event_type",
                    F.col("n_events"),
                    F.col("exact_users"),
                    hll_ok.alias("hll_within_3rsd"),
                    rank_ok(0).alias("p50_rank_ok"),
                    rank_ok(1).alias("p95_rank_ok"),
                    rank_ok(2).alias("p99_rank_ok"))
            .orderBy("event_type"))


ORACLE_SKETCH_PROFILE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_within_3rsd,
       TRUE AS p50_rank_ok,
       TRUE AS p95_rank_ok,
       TRUE AS p99_rank_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_SAMPLE_HEX_DIGITS = ("0", "1")  # 2/16 of the md5 space ≈ 12.5 %


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified down-sampling: keep a document iff the first
    hex digit of md5(doc_id) falls in a fixed set — the standard
    reproducible-sampling trick for training corpora. Unlike
    ``df.sample()``, membership is a pure function of the key: stable
    across runs, engines, partitionings and cluster sizes, and a later
    re-run over grown data keeps exactly the previously-selected ids.
    Reported per source stratum: totals, sampled count, achieved rate.
    Single scan, one aggregation shuffle (plus the output sort's range
    exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) \
        .isin(*_SAMPLE_HEX_DIGITS)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.count(F.when(sampled, 1)).alias("sampled_docs"),
        )
        .withColumn(
            "sample_rate",
            F.round(F.col("sampled_docs") / F.col("total_docs"), 4))
        .orderBy("source")
    )


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT source,
       COUNT(*) AS total_docs,
       COUNT(*) FILTER (substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        IN {_SAMPLE_HEX_DIGITS}) AS sampled_docs,
       round(COUNT(*) FILTER (substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                              IN {_SAMPLE_HEX_DIGITS})
             / CAST(COUNT(*) AS DOUBLE), 4) AS sample_rate
FROM documents
GROUP BY source
ORDER BY source
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking for training: split each document's token stream
    into fixed 50-token windows (last chunk ragged), one output row per
    chunk with a content fingerprint. Pure Column plan — the chunk list is
    built with transform over a sequence of offsets and posexploded, so the
    whole op is map-side (zero shuffles): chunking 100 TB is one scan."""
    docs = _docs(spark, sf_dir).filter(F.col("cleaned_text") != "").select(
        "doc_id", tokens(F.col("cleaned_text")).alias("toks"))
    chunks = token_chunks(F.col("toks"), dd.CHUNK_TOKENS)
    return (
        docs
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("bigint").alias("chunk_tokens"),
            F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_fp"),
        )
    )  # no orderBy: per-row output, driver hash is order-insensitive


ORACLE_CHUNK_DOCUMENTS = _SQL_DOCS + f"""
, toked AS (
    SELECT doc_id, string_split(cleaned_text, ' ') AS toks
    FROM docs
    WHERE cleaned_text <> ''
), chunked AS (
    SELECT doc_id,
           i AS chunk_id,
           toks[(i * {dd.CHUNK_TOKENS} + 1):((i + 1) * {dd.CHUNK_TOKENS})] AS chunk
    FROM toked,
         LATERAL unnest(range(0,
             CAST(floor((len(toks) - 1) / {dd.CHUNK_TOKENS}) AS BIGINT) + 1))
         AS t(i)
)
SELECT doc_id,
       CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_fp
FROM chunked
ORDER BY doc_id, chunk_id
"""

_REWRITE_CHUNK = 6  # tokens per non-overlapping rewrite chunk


def q_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a REWRITE, not a detector: cut every
    non-overlapping {_REWRITE_CHUNK}-token chunk whose identical content
    already appeared earlier in global (doc_id, chunk_id) order, then
    reassemble each document from its surviving chunks — the
    remove-all-but-first policy of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (their suffix-array cut step),
    approximated at chunk granularity with relational ops only.
    Complements q_dedup_spans (detection) and the doc-level dedup_*
    family (whole-document drop).

    Plan: chunking is map-side (transform over a sequence of offsets,
    one posexplode); first-occurrence marking is ONE window
    (row_number over md5(chunk), ordered by the globally-unique
    (doc_id, chunk_id) — deterministic, no self-join); reassembly is one
    groupBy(doc_id) whose collect_list sorts by chunk_id and drops the
    cut chunks in Column space. Two content exchanges total — hash(h)
    then doc_id — the same linear profile as exact dedup; no broadcast
    of anything corpus-derived, no all-pairs stage. At 100 TB each
    h-group is tiny (duplicate multiplicity), so the window state is
    bounded; skewed boilerplate chunks are the one hot spot and they cap
    at the duplicate count of a single 6-gram.
    """
    rows = dd.chunk_rows(_docs(spark, sf_dir), "cleaned_text", "doc_id",
                         _REWRITE_CHUNK)
    w = Window.partitionBy(F.md5("txt")).orderBy("doc_id", "chunk_id")
    marked = rows.withColumn("rn", F.row_number().over(w))
    kept_struct = F.array_sort(
        F.collect_list(F.struct("chunk_id", "rn", "txt")))
    rebuilt = F.array_join(
        F.filter(
            F.transform(kept_struct,
                        lambda s: F.when(s["rn"] == 1, s["txt"])),
            lambda t: t.isNotNull()),
        " ")
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
                 F.coalesce(
                     F.sum(F.when(F.col("rn") == 1, F.col("n_toks"))),
                     F.lit(0)).alias("kept_tokens"),
                 F.md5(rebuilt).alias("rebuilt_fp"))
            .orderBy("doc_id"))


ORACLE_DEDUP_REWRITE = _SQL_DOCS + f"""
, toked AS (
    SELECT doc_id, string_split(cleaned_text, ' ') AS toks
    FROM docs
    WHERE cleaned_text <> ''
), chunked AS (
    SELECT doc_id,
           i AS chunk_id,
           len(toks[(i * {_REWRITE_CHUNK} + 1):((i + 1) * {_REWRITE_CHUNK})])
               AS n_toks,
           array_to_string(
               toks[(i * {_REWRITE_CHUNK} + 1):((i + 1) * {_REWRITE_CHUNK})],
               ' ') AS txt
    FROM toked,
         LATERAL unnest(range(0,
             CAST(floor((len(toks) - 1) / {_REWRITE_CHUNK}) AS BIGINT) + 1))
         AS t(i)
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY txt
                              ORDER BY doc_id, chunk_id) AS rn
    FROM chunked
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN rn = 1 THEN n_toks END), 0) AS BIGINT)
           AS kept_tokens,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN txt END, ' '
                               ORDER BY chunk_id), '')) AS rebuilt_fp
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + order-insensitive bag fingerprints per document."""
    from ..functions.text import bag_fingerprint, fingerprint

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        fingerprint(F.col("cleaned_text")).alias("content_fp"),
        bag_fingerprint(F.col("cleaned_text")).alias("bag_fp"),
    )  # no orderBy: see q_text_stats


ORACLE_FINGERPRINTS = _SQL_DOCS + """
SELECT doc_id,
       md5(cleaned_text) AS content_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(cleaned_text, ' '))), ' '))
         AS bag_fp
FROM docs
ORDER BY doc_id
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join: top-3 cosine neighbors for each query vector
    (vec_id < 5) over the rest of the corpus.

    The query set broadcasts (it is k-NN *join*'s small side by
    construction); cosine is a map-side Column expression over the corpus
    scan, and the per-query top-3 is a row_number window on query_id. For
    query sets too large to broadcast, the LSH-bucketed
    ``pairwise_topk_join`` (operators/similarity.py) is the scale path —
    registered as ``knn_join_ann``.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    sim = vectors.cosine_similarity(F.col("embedding"), F.col("qvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (
        corpus.crossJoin(F.broadcast(queries))
        .select("query_id", "vec_id", F.round(sim, 4).alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
    )


ORACLE_KNN_JOIN = """
WITH queries AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id < 5
), scored AS (
    SELECT q.query_id, e.vec_id,
           round(
             list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> e.embedding[i]::DOUBLE * q.qvec[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(e.embedding,
                              x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(q.qvec,
                                x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM embeddings e CROSS JOIN queries q
    WHERE e.vec_id >= 5
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""


_ANNJ_PER_QUERY_FLOOR = 1   # of 3 — measured minimum across queries/SFs
                            # is 1 (deterministic md5 hyperplanes)


def q_knn_join_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate k-NN join with its per-query contract
    carried into the oracle gate (upgraded from rows-only, r7): for each
    of the five query vectors the DuckDB twin recomputes the EXACT cosine
    top-3 neighbor set (the knn_join referee) as a value anchor, and two
    booleans ride along pinned TRUE — the windowed top-k emits at most k
    rows per query, and the probed buckets recover at least 1 of the 3
    exact neighbors (measured minimum across queries and SFs; the join
    never goes all-pairs, which is its point)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    cs = emb.filter(F.col("vec_id") >= 5)
    ann = sim.pairwise_topk_join(qs, cs, "embedding", "vec_id", "vec_id",
                                 k=3).localCheckpoint()
    queries = (qs.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("qvec")))
    exact_sim = vectors.cosine_similarity(F.col("embedding"), F.col("qvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    exact = (cs.crossJoin(F.broadcast(queries))
             .select("query_id", "vec_id",
                     F.round(exact_sim, 4).alias("cosine"))
             .withColumn("__rank", F.row_number().over(w))
             .filter(F.col("__rank") <= 3)
             .select("query_id", F.col("vec_id").alias("neighbor_id"))
             .localCheckpoint())
    exact_ids = exact.groupBy("query_id").agg(
        F.array_join(F.sort_array(F.collect_list("neighbor_id")), ",")
        .alias("exact_top3_ids"))
    per_q = (ann.groupBy("query_id")
             .agg((F.count(F.lit(1)) <= 3).alias("ann_at_most_k")))
    hits = (ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("__hits")))
    return (exact_ids
            .join(per_q, "query_id", "left")
            .join(hits, "query_id", "left")
            .select(
                "query_id", "exact_top3_ids",
                F.coalesce("ann_at_most_k", F.lit(True))
                .alias("ann_at_most_k"),
                (F.coalesce("__hits", F.lit(0)) >= _ANNJ_PER_QUERY_FLOOR)
                .alias("recall_ok"))
            .orderBy("query_id"))


ORACLE_KNN_JOIN_ANN = """
WITH queries AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id < 5
), scored AS (
    SELECT q.query_id, e.vec_id,
           round(
             list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> e.embedding[i]::DOUBLE * q.qvec[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(e.embedding,
                              x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(q.qvec,
                                x -> x::DOUBLE * x::DOUBLE)))),
           4) AS cosine
    FROM embeddings e CROSS JOIN queries q
    WHERE e.vec_id >= 5
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id,
       array_to_string(list_sort(list(vec_id)), ',') AS exact_top3_ids,
       TRUE AS ann_at_most_k,
       TRUE AS recall_ok
FROM ranked WHERE rank <= 3
GROUP BY query_id
ORDER BY query_id
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: candidate documents sharing ≥1 word
    3-gram with the held-out benchmark slice (doc_id % 100 == 0), with the
    shared-shingle count — the n-gram-overlap contamination check every
    training-corpus pipeline runs before a model sees the data.

    The benchmark shingle set is tiny by construction (the eval suite, not
    the corpus), so it broadcasts and the check is one map-side hash probe
    over the corpus shingles plus a single groupBy(doc_id) — at 100 TB the
    benchmark set is precomputed once and reused across corpus shards.
    """
    from ..functions.text import clean_text, shingles_from_tokens

    toked = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(clean_text(F.col("text"))).alias("toks"))
    sh = toked.select(
        "doc_id",
        F.explode(F.array_distinct(
            shingles_from_tokens(F.col("toks"), _SHINGLE_K))).alias("s"))
    bench = (sh.filter(F.col("doc_id") % 100 == 0)
             .select("s").distinct())
    cand = sh.filter(F.col("doc_id") % 100 != 0)
    return (
        cand.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id")
    )


ORACLE_CONTAMINATION = _SQL_DOCS + f"""
, toked AS (
    SELECT doc_id, string_split(cleaned_text, ' ') AS toks FROM docs
), sh AS (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) < {_SHINGLE_K}
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct([
                    array_to_string(toks[i:i+{_SHINGLE_K}-1], ' ')
                    for i in range(1, len(toks) - {_SHINGLE_K} + 2)])
           END) AS s
    FROM toked
), bench AS (
    SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0
), cand AS (
    SELECT doc_id, s FROM sh WHERE doc_id % 100 <> 0
)
SELECT doc_id, COUNT(*) AS n_shared
FROM cand JOIN bench USING (s)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a Bloom-filter pre-probe — the
    100 TB-scale variant of ``q_contamination``: fold the benchmark
    shingle set into a CONSTANT-size bitmap (``operators/bloom.py`` —
    one aggregation, shuffle bounded at bits/64 rows per partition
    regardless of benchmark size), then pre-filter every corpus shingle
    with map-side bitmap probes before the exact verify join. The exact
    decon broadcasts the full benchmark shingle SET, which grows with
    the benchmark; the bloom ships ~256 KB whatever the benchmark grows
    to, and the probed corpus never shuffles (scan → k broadcast bitmap
    joins → filter).

    The Bloom theorem (NO false negatives) is what the oracle gates: the
    output is the exact contaminated-doc manifest — bloom-positive
    shingles verified against the true benchmark set — which can only
    match the DuckDB twin's exact answer if the bitmap never dropped a
    truly-shared shingle. A false positive merely costs verify work on a
    non-shared shingle and cannot change the result; the pruning power
    (~1% fp at 10 bits/key) is asserted in tests, not gated (it is
    hash-seed-dependent).

    Staging (r9, guide §2.4/§1.2): the benchmark shingle SET has two
    consumers (the bitmap aggregation and the exact-verify broadcast),
    and each used to replay the full corpus tokenize+shingle explode —
    three corpus passes total, every one fused into the unsplittable
    single-file scan (ONE task). Now the benchmark set is built from the
    PRE-FILTERED 1% slice (the doc_id filter runs before tokenize, so
    the pass only shingles benchmark docs) and localCheckpointed once —
    it is the eval-suite artifact a real pipeline persists — while the
    candidate side is ``spread_scan``'d so its shingle+probe projection
    uses every core (no keyed exchange exists to move instead: the probe
    is exchange-free by design). Measured 2.28 → 1.85 s at sf0.1
    (interleaved A/B); bench-checkpoint-without-spread measured slower
    (2.49 s), the r9 first cut (spread shared by all three consumers)
    re-ran the exchange per consumer and REGRESSED to 2.7 s — reverted
    and recorded in OPTIMIZATION_r09.md.
    """
    from ..functions.text import clean_text, shingles_from_tokens
    from ..operators.bloom import bloom_bitmap, bloom_probe
    from ..sources.batch import spread_scan

    docs = load_table(spark, sf_dir, "documents")

    def sh(src):
        toked = src.select(
            "doc_id", tokens(clean_text(F.col("text"))).alias("toks"))
        return toked.select(
            "doc_id",
            F.explode(F.array_distinct(
                shingles_from_tokens(F.col("toks"), _SHINGLE_K))).alias("s"))

    bench = (sh(docs.filter(F.col("doc_id") % 100 == 0))
             .select("s").distinct().localCheckpoint())
    bitmap = bloom_bitmap(bench, "s")
    # filter BEFORE the spread (r9 advice): the 1% benchmark rows are
    # dropped at the scan instead of riding the round-robin exchange just
    # to be discarded — semantically identical, strictly fewer bytes moved
    cand = bloom_probe(
        sh(spread_scan(docs.filter(F.col("doc_id") % 100 != 0))),
        "s", bitmap)
    return (
        cand.join(F.broadcast(bench), "s")   # exact verify (same policy
        # as q_contamination: the benchmark models a FIXED external eval
        # suite — see the lint allowlist)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id")
    )


# Same exact answer as the unfiltered decon — the bloom pre-probe is
# correct iff it is invisible in the result (no false negatives).
ORACLE_BLOOM_DECONTAMINATION = ORACLE_CONTAMINATION


def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embed every document with the deterministic hashing-trick featurizer
    (functions/vectors.py::hashed_embedding), with the featurizer's
    contracts carried INTO the oracle gate (r5 verdict #7) — the vector
    itself has no DuckDB twin (xxhash64), so the gate pins the THEOREMS
    every produced vector must satisfy, computed genuinely on the Spark
    side and pinned as literals by the SQL twin:

    - ``unit_norm``: the L2 norm of the (normalized) vector, rounded —
      must be exactly 1.0 for every document (tokens() of cleaned text is
      never an empty array, so the zero-vector case cannot occur here);
      any normalization bug flips the value-hash.
    - ``dim``: the declared 16 — a schema/shape regression trips it.
    - ``deterministic``: documents with IDENTICAL cleaned text must get
      byte-identical vectors — computed as min==max of the vector
      signature over a window keyed by the cleaned-text hash (real
      duplicate groups exist in the corpus, so this window genuinely
      compares vectors); the oracle pins TRUE.

    (Near-dup separation quality is asserted in
    tests/test_similarity.py — that part is statistical, not a theorem.)
    Plan: featurize map-side; ONE exchange for the determinism window
    (keyed on the text hash); presentation sort."""
    toked = load_table(spark, sf_dir, "documents").select(
        "doc_id", clean_text(F.col("text")).alias("cleaned"))
    emb = toked.select(
        "doc_id", F.md5(F.col("cleaned")).alias("text_sig"),
        vectors.hashed_embedding(tokens(F.col("cleaned")), 16).alias("emb"))
    sig = F.md5(F.to_json(F.col("emb")))
    w_text = Window.partitionBy("text_sig")
    return (emb
            .withColumn("__sig", sig)
            .select(
                "doc_id",
                F.round(vectors.l2_norm(F.col("emb")), 4).alias("unit_norm"),
                F.size("emb").cast("long").alias("dim"),
                (F.min("__sig").over(w_text) == F.max("__sig").over(w_text))
                .alias("deterministic"))
            .orderBy("doc_id"))


ORACLE_EMBED_DOCUMENTS = """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS unit_norm,
       CAST(16 AS BIGINT) AS dim, TRUE AS deterministic
FROM documents
ORDER BY doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signal: fraction of duplicated word 3-grams
    per document (1 − distinct/total shingles) — high values mark boilerplate
    and degenerate generations. Map-side only: tokens staged once, no
    shuffle until the presentation sort."""
    from ..functions.text import shingles_from_tokens

    toked = _docs(spark, sf_dir).select(
        "doc_id", tokens(F.col("cleaned_text")).alias("toks"))
    sh = toked.select(
        "doc_id", shingles_from_tokens(F.col("toks"), _SHINGLE_K).alias("sh"))
    n_total = F.size(F.col("sh"))
    n_distinct = F.size(F.array_distinct(F.col("sh")))
    return sh.select(
        "doc_id",
        n_total.cast("long").alias("n_shingles"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(F.lit(1.0) - n_distinct / F.greatest(n_total, F.lit(1)), 4)
         .alias("repetition_ratio"),
    ).orderBy("doc_id")


ORACLE_REPETITION = _SQL_JACCARD_PAIRS.split(", blocked AS")[0] + f"""
, sh AS (
    SELECT doc_id,
           CASE WHEN len(toks) < {_SHINGLE_K}
                THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(toks[i:i+{_SHINGLE_K}-1], ' ')
                      for i in range(1, len(toks) - {_SHINGLE_K} + 2)]
           END AS sh
    FROM toked
)
SELECT doc_id,
       CAST(len(sh) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       round(1.0 - len(list_distinct(sh)) / greatest(len(sh), 1), 4)
           AS repetition_ratio
FROM sh
ORDER BY doc_id
"""


def q_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph (edges both ways:
    similarity is symmetric) — ranks the 'template' documents that many
    near-copies orbit. The iterative-numeric operator class
    (operators/graph.py::pagerank, localCheckpoint-per-round); the fixed
    10-round power iteration unrolls into a chained-CTE DuckDB oracle
    (analytic cases additionally pinned in tests/test_graph.py)."""
    from ..operators.graph import pagerank

    pairs = _jaccard_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("a_id").alias("src"),
                          F.col("b_id").alias("dst"))
             .union(pairs.select(F.col("b_id"), F.col("a_id"))))
    return (
        pagerank(edges, iterations=10)
        .select("node", F.round("rank", 4).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
    )


def _pagerank_oracle(iterations: int = 10) -> str:
    """DuckDB twin of q_doc_pagerank: the fixed iteration count lets the
    power iteration unroll into a chain of plain CTEs (pr0..prN), sidestepping
    the no-aggregates-in-recursive-CTE restriction. The pair graph is
    symmetric, so the dangling set is empty and each round is exactly
    rank' = 0.15 + 0.85 * Σ_in rank/deg — the same arithmetic the Spark
    operator performs (operators/graph.py::pagerank with d=0). floor(x*1e4
    + 0.5)/1e4 pins HALF_UP to match F.round."""
    sql = _SQL_JACCARD_PAIRS + """
, links AS (
    SELECT u, v, COUNT(*) OVER (PARTITION BY u) AS deg
    FROM (SELECT a_id AS u, b_id AS v FROM pairs
          UNION ALL SELECT b_id AS u, a_id AS v FROM pairs)
), prnodes AS (
    SELECT DISTINCT u AS node FROM links
), pr0 AS (
    SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM prnodes
)"""
    for k in range(iterations):
        sql += f"""
, pr{k + 1} AS (
    SELECT n.node,
           0.15 + 0.85 * COALESCE(c.inflow, 0.0) AS rank
    FROM prnodes n
    LEFT JOIN (
        SELECT l.v AS node, SUM(p.rank / l.deg) AS inflow
        FROM links l JOIN pr{k} p ON l.u = p.node
        GROUP BY l.v
    ) c ON n.node = c.node
)"""
    sql += f"""
SELECT node, floor(rank * 10000 + 0.5) / 10000 AS rank
FROM pr{iterations}
ORDER BY rank DESC, node
"""
    return sql


ORACLE_DOC_PAGERANK = _pagerank_oracle()


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget source mixing: down-sample every source to the smallest
    source's token budget, deterministically. The corpus-mixing stage — mix
    weights decided from the data, membership a pure function of doc_id.

    Gate: uniform u = int(md5[0:8])/2^32 < rate, rate = min_source_tokens /
    source_tokens — both sides compute rate from the same integer token
    sums and u from the same hex digits, so the kept set is engine-exact.
    Two passes over a 2-column projection (totals, then gated re-agg) with
    the tiny per-source totals broadcast back — at 100 TB the totals pass
    is a column-pruned scan, and the broadcast is O(#sources)."""
    toked = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.when(F.col("cleaned_text") == "", F.lit(0))
         .otherwise(F.size(tokens(F.col("cleaned_text"))))
         .cast("long").alias("n_tok"))
    from pyspark.sql import Window

    totals = toked.groupBy("source").agg(
        F.sum("n_tok").alias("source_tokens"))
    # global min via window over the already-aggregated totals (one row per
    # source — the unpartitioned window runs on a #sources-row frame, not
    # the fact table; a separate-aggregate crossJoin would re-scan the
    # corpus since the global-agg branch's exchange is not reused)
    min_tokens = F.min("source_tokens").over(Window.partitionBy())
    rates = totals.select(
        "source", "source_tokens",
        (min_tokens.cast("double") / F.col("source_tokens")).alias("rate"))
    u = (F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
         .cast("double") / F.lit(4294967296.0))
    kept = (toked.join(F.broadcast(rates), "source")
            .withColumn("u", u)
            .filter(F.col("u") < F.col("rate")))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_tok").alias("kept_tokens"),
            F.round(F.min("rate"), 6).alias("target_rate"),
        )
        .join(totals, "source")
        .select("source", "source_tokens", "kept_docs", "kept_tokens",
                "target_rate")
        .orderBy("source")
    )


ORACLE_SOURCE_MIX = _SQL_DOCS + """
, toked AS (
    SELECT doc_id, source,
           CASE WHEN cleaned_text = '' THEN 0
                ELSE len(string_split(cleaned_text, ' ')) END AS n_tok
    FROM docs
), totals AS (
    SELECT source, SUM(n_tok) AS source_tokens FROM toked GROUP BY source
), rates AS (
    SELECT source, source_tokens,
           CAST((SELECT MIN(source_tokens) FROM totals) AS DOUBLE)
               / source_tokens AS rate
    FROM totals
), kept AS (
    SELECT t.*, r.rate
    FROM toked t JOIN rates r USING (source)
    WHERE CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) AS DOUBLE) / 4294967296.0 < r.rate
)
SELECT k.source,
       CAST(r.source_tokens AS BIGINT) AS source_tokens,
       COUNT(*) AS kept_docs,
       CAST(SUM(k.n_tok) AS BIGINT) AS kept_tokens,
       round(MIN(k.rate), 6) AS target_rate
FROM kept k JOIN rates r USING (source)
GROUP BY k.source, r.source_tokens
ORDER BY k.source
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: an end-to-end curation pipeline as ONE declarative
    plan — language filter → length gate → exact dedup (keep-first per
    content fingerprint) → 50-token sequence chunking → per-source corpus
    rollup. Exactly two shuffles at any data size: the dedup window on the
    fingerprint and the final per-source aggregate; filtering and chunking
    are map-side. This is the composition story: every stage is the same
    Column algebra the standalone queries use, so the fused pipeline needs
    no materialization between stages. The gate (``dd.curation_gate``) and
    chunker (``token_chunks``) are also the stages of the streaming
    ``streaming/curation.py::curate_doc_stream``."""
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    keepers = (dd.curation_gate(_docs(spark, sf_dir))
               .withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
    chunks = token_chunks(F.col("toks"), dd.CHUNK_TOKENS)
    chunked = keepers.select(
        "source", F.posexplode(chunks).alias("chunk_id", "chunk"))
    return (
        chunked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.size("chunk")).cast("bigint").alias("total_tokens"),
            F.count_if(F.col("chunk_id") == 0).alias("n_docs"),
        )
        .orderBy("source")
    )


ORACLE_CURATION_PIPELINE = _SQL_DOCS + f"""
, toked AS (
    SELECT doc_id, source, cleaned_text,
           string_split(cleaned_text, ' ') AS toks
    FROM docs
    WHERE lang = 'en' AND cleaned_text <> ''
      AND len(string_split(cleaned_text, ' ')) >= {dd.MIN_DOC_TOKENS}
), keepers AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(cleaned_text) ORDER BY doc_id) AS rn
        FROM toked)
    WHERE rn = 1
), chunked AS (
    SELECT source, i AS chunk_id,
           toks[(i * {dd.CHUNK_TOKENS} + 1):((i + 1) * {dd.CHUNK_TOKENS})] AS chunk
    FROM keepers,
         LATERAL unnest(range(0,
             CAST(floor((len(toks) - 1) / {dd.CHUNK_TOKENS}) AS BIGINT) + 1))
         AS t(i)
)
SELECT source,
       COUNT(*) AS n_chunks,
       CAST(SUM(len(chunk)) AS BIGINT) AS total_tokens,
       COUNT(*) FILTER (chunk_id = 0) AS n_docs
FROM chunked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Edit-distance near-dup (prefix-blocked levenshtein)
# ---------------------------------------------------------------------------

def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by edit distance on document heads, prefix-blocked.

    The fourth dedup family (exact hash / shingle-Jaccard / bit-sketch /
    edit distance): block on the first 20 chars — an equi-join, so the
    O(n^2) candidate space collapses to same-prefix buckets — then verify
    with levenshtein over the 80-char head only (edit distance is
    quadratic in string length; bounding the operand bounds the cost per
    pair). At 100 TB the blocking join shuffles once on the prefix and hot
    prefixes split under AQE.
    """
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"),
                    F.substring("text", 1, 80).alias("head_a"),
                    F.substring("text", 1, 20).alias("block"))
    b = docs.select(F.col("doc_id").alias("id_b"),
                    F.substring("text", 1, 80).alias("head_b"),
                    F.substring("text", 1, 20).alias("block"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist",
                    F.levenshtein("head_a", "head_b").cast("long"))
        .filter(F.col("edit_dist") <= 20)
        .select("id_a", "id_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )


ORACLE_DEDUP_LEVENSHTEIN = """
WITH blocked AS (
    SELECT doc_id, substring(text, 1, 80) AS head,
           substring(text, 1, 20) AS block
    FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.head, b.head) AS edit_dist
FROM blocked a JOIN blocked b USING (block)
WHERE a.doc_id < b.doc_id AND levenshtein(a.head, b.head) <= 20
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Embedding norm profile — higher-order array functions, zero Python.
# ---------------------------------------------------------------------------

def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics over the embedding column.

    The vector math runs entirely in higher-order Column functions
    (``aggregate`` fold over the array — sequential, so the double
    accumulation order matches DuckDB's list_aggregate exactly); no UDF,
    no Arrow crossing. The embedding healthcheck every similarity/ANN
    pipeline should run before trusting cosine scores: collapsed or
    exploding norms per label show up immediately.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norm = emb.withColumn("l2_norm", F.sqrt(F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"))))
    return (
        norm.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("l2_norm"), 4).alias("avg_norm"),
            F.round(F.min("l2_norm"), 4).alias("min_norm"),
            F.round(F.max("l2_norm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_NORM_STATS = """
WITH norms AS (
    SELECT label,
           sqrt(list_aggregate(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum')) AS l2_norm
    FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
       round(AVG(l2_norm), 4) AS avg_norm,
       round(MIN(l2_norm), 4) AS min_norm,
       round(MAX(l2_norm), 4) AS max_norm
FROM norms GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# Per-dimension embedding profile (posexplode / unnest-with-ordinality).
# ---------------------------------------------------------------------------

def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/std/min/max of every embedding dimension across the corpus.

    The other embedding healthcheck (norms are per-vector, this is
    per-coordinate): dead dimensions (std≈0) and scale outliers distort
    every downstream distance. posexplode pivots vectors long — the fan-out
    is rows × dims, but each output row is (int, double) and the aggregate
    reduces map-side to one partial per (partition, dim), so the shuffle
    carries |dims| × partitions tiny rows. 64 groups no matter the corpus
    size.
    """
    from ..functions.rounding import round_half_up

    emb = load_table(spark, sf_dir, "embeddings")
    # mean/std from ORDER-INDEPENDENT decimal sums (Σv, Σv² exact, so both
    # engines compute identical doubles before the engine-exact rounding);
    # plain avg/stddev_pop differed in the last digit at sf0.1
    # decimal(12,8): product stays within precision 38 so Spark's decimal
    # multiply remains EXACT (a (20,8) cast would push the product past 38
    # and silently re-round)
    dv = F.col("v").cast("decimal(12,8)")
    n = F.count(F.lit(1))
    sum_v = F.sum(dv).cast("double")
    sum_v2 = F.sum((dv * dv)).cast("double")
    mean = sum_v / n
    var = sum_v2 / n - mean * mean
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .select(F.col("dim").cast("long").alias("dim"),
                F.col("v").cast("double").alias("v"))
        .groupBy("dim")
        .agg(
            n.alias("n"),
            round_half_up(mean, 4).alias("mean"),
            round_half_up(F.sqrt(F.greatest(var, F.lit(0.0))), 4)
            .alias("std"),
            round_half_up(F.min("v"), 4).alias("min_v"),
            round_half_up(F.max("v"), 4).alias("max_v"),
        )
        .orderBy("dim")
    )


ORACLE_EMBEDDING_DIM_PROFILE = """
WITH flat AS (
    SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), agg AS (
    SELECT dim, COUNT(*) AS n,
           CAST(SUM(CAST(v AS DECIMAL(12,8))) AS DOUBLE) AS sum_v,
           CAST(SUM(CAST(v AS DECIMAL(12,8)) * CAST(v AS DECIMAL(12,8)))
                AS DOUBLE) AS sum_v2,
           MIN(v) AS min_raw, MAX(v) AS max_raw
    FROM flat GROUP BY dim
)
SELECT dim, n,
       floor((sum_v / n) * 10000 + 0.5) / 10000 AS mean,
       floor(sqrt(greatest(sum_v2 / n - (sum_v / n) * (sum_v / n), 0.0))
             * 10000 + 0.5) / 10000 AS std,
       floor(min_raw * 10000 + 0.5) / 10000 AS min_v,
       floor(max_raw * 10000 + 0.5) / 10000 AS max_v
FROM agg
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# Canonical-doc selection: the step after clustering in a dedup pipeline.
# ---------------------------------------------------------------------------

def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: elect one keeper, count what gets dropped.

    The last step of the dedup pipeline (pairs → transitive clusters →
    ONE survivor per cluster): keeper is the longest document, doc_id as
    the deterministic tiebreak. Join back to documents is keyed on doc_id
    (no fan-out — cluster members only); the election is a per-cluster
    window over cluster-sized partitions.
    """
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    cc = connected_components(_jaccard_pairs(spark, sf_dir), "a_id", "b_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars")
    members = cc.select(F.col("node").alias("doc_id"),
                        F.col("component").alias("cluster_id")) \
        .join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.min(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("keeper_chars"),
            (F.count(F.lit(1)) - F.lit(1)).alias("docs_dropped"),
            F.sum(F.when(F.col("rn") > 1, F.col("n_chars"))
                  .otherwise(F.lit(0))).alias("chars_dropped"),
        )
        .orderBy("cluster_id")
    )


ORACLE_DEDUP_CANONICAL = ORACLE_DEDUP_CLUSTERS.replace(
    """SELECT node AS doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
ORDER BY doc_id
""", """, ranked AS (
    SELECT l.node AS doc_id, l.cluster_id, d.n_chars,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.n_chars DESC, l.node ASC) AS rn
    FROM labels l JOIN documents d ON l.node = d.doc_id
)
SELECT cluster_id,
       COUNT(*) AS cluster_size,
       MIN(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
       MIN(CASE WHEN rn = 1 THEN n_chars END) AS keeper_chars,
       COUNT(*) - 1 AS docs_dropped,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
           AS chars_dropped
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
""")


# ---------------------------------------------------------------------------
# Gopher-style quality rule gate (per-source audit)
# ---------------------------------------------------------------------------

_GQ_MIN_TOK = 20
_GQ_MAX_TOK = 1000
_GQ_MIN_MEAN_LEN = 3.0
_GQ_MAX_MEAN_LEN = 10.0
_GQ_MIN_ALPHA_FRAC = 0.8
_GQ_MAX_DUP_FRAC = 0.6


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality gate in the Gopher/RefinedWeb style,
    audited per source: word-count band, mean-word-length band, stopword
    presence, alphabetic-word fraction, duplicate-token fraction.

    All five rules are pure Column algebra over one tokenization — a single
    map-side projection feeding one hash aggregate, so the whole gate costs
    one scan + one exchange of |sources| rows at any scale. The per-rule
    pass counts (not just the conjunction) are what an operator tunes
    thresholds against at 100 TB, where re-running the gate per rule would
    be five scans instead of one.
    """
    toked = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("cleaned_text")) != "")
        .select("source", "n_chars",
                tokens(F.col("cleaned_text")).alias("toks"))
    )
    n_tok = F.size("toks")
    mean_len = (
        F.aggregate("toks", F.lit(0), lambda acc, t: acc + F.length(t))
        .cast("double") / n_tok)
    alpha_frac = (
        F.size(F.filter("toks", lambda t: t.rlike("[a-zA-Z]")))
        .cast("double") / n_tok)
    dup_frac = (F.lit(1.0)
                - F.size(F.array_distinct("toks")).cast("double") / n_tok)
    rules = toked.select(
        "source",
        n_tok.between(_GQ_MIN_TOK, _GQ_MAX_TOK).alias("r_wordcount"),
        mean_len.between(_GQ_MIN_MEAN_LEN, _GQ_MAX_MEAN_LEN)
        .alias("r_mean_len"),
        (F.size(F.array_intersect(
            F.array_distinct("toks"),
            F.array(*[F.lit(w) for w in ("the", "a")]))) > 0)
        .alias("r_stopword"),
        (alpha_frac >= _GQ_MIN_ALPHA_FRAC).alias("r_alpha"),
        (dup_frac <= _GQ_MAX_DUP_FRAC).alias("r_repeat"),
    )
    passed = (F.col("r_wordcount") & F.col("r_mean_len") & F.col("r_stopword")
              & F.col("r_alpha") & F.col("r_repeat"))
    return (
        rules.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.count_if("r_wordcount").alias("pass_wordcount"),
             F.count_if("r_mean_len").alias("pass_mean_len"),
             F.count_if("r_stopword").alias("pass_stopword"),
             F.count_if("r_alpha").alias("pass_alpha"),
             F.count_if("r_repeat").alias("pass_repeat"),
             F.count_if(passed).alias("pass_all"),
             F.round(F.count_if(passed) / F.count(F.lit(1)), 4)
             .alias("pass_rate"))
        .orderBy("source")
    )


ORACLE_GOPHER_QUALITY = _SQL_DOCS + f"""
, toked AS (
    SELECT source, string_split(cleaned_text, ' ') AS toks
    FROM docs WHERE trim(cleaned_text) <> ''
), rules AS (
    SELECT source,
           len(toks) BETWEEN {_GQ_MIN_TOK} AND {_GQ_MAX_TOK} AS r_wordcount,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks)
               BETWEEN {_GQ_MIN_MEAN_LEN} AND {_GQ_MAX_MEAN_LEN}
               AS r_mean_len,
           len(list_intersect(list_distinct(toks), ['the', 'a'])) > 0
               AS r_stopword,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
                AS DOUBLE) / len(toks) >= {_GQ_MIN_ALPHA_FRAC} AS r_alpha,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               <= {_GQ_MAX_DUP_FRAC} AS r_repeat
    FROM toked
)
SELECT source,
       COUNT(*) AS docs,
       COUNT(*) FILTER (WHERE r_wordcount) AS pass_wordcount,
       COUNT(*) FILTER (WHERE r_mean_len) AS pass_mean_len,
       COUNT(*) FILTER (WHERE r_stopword) AS pass_stopword,
       COUNT(*) FILTER (WHERE r_alpha) AS pass_alpha,
       COUNT(*) FILTER (WHERE r_repeat) AS pass_repeat,
       COUNT(*) FILTER (WHERE r_wordcount AND r_mean_len AND r_stopword
                        AND r_alpha AND r_repeat) AS pass_all,
       round(COUNT(*) FILTER (WHERE r_wordcount AND r_mean_len AND r_stopword
                              AND r_alpha AND r_repeat)
             / COUNT(*), 4) AS pass_rate
FROM rules
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs. an existing corpus fingerprint set
# ---------------------------------------------------------------------------

def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: an incoming batch is checked against the
    prefix-fingerprint set (md5 of the first 10 tokens — catches the
    copy+suffix near-dup family exactly) of the already-ingested corpus
    (docs with doc_id % 10 == 0 stand in for the corpus), then against
    itself.

    Per incoming doc, precedence: already-in-corpus > duplicate-within-batch
    > kept. The corpus probe is a left join on the content fingerprint —
    at 100 TB the corpus fingerprint table is itself huge, so this is a
    shuffled hash join on md5 (uniformly distributed keys, no skew), NOT a
    broadcast; within-batch rank is one window over the same fingerprint
    partitioning, so AQE reuses the exchange. This is the production shape
    of the reference's insert-if-absent sink (sentiment_analysis.py:381-406)
    at data scale.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.md5(F.concat_ws(" ", F.slice(tokens(F.col("cleaned_text")),
                                       1, _PREFIX_TOKENS))).alias("fp"))
    corpus_fp = (docs.filter(F.col("doc_id") % 10 == 0)
                 .select("fp").distinct()
                 .withColumn("in_corpus", F.lit(True)))
    incoming = docs.filter(F.col("doc_id") % 10 != 0)
    from pyspark.sql.window import Window
    ranked = incoming.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
    marked = ranked.join(corpus_fp, "fp", "left")
    status = (
        F.when(F.col("in_corpus"), F.lit("dropped_corpus"))
        .when(F.col("rn") > 1, F.lit("dropped_batch"))
        .otherwise(F.lit("kept")))
    return (
        marked.withColumn("status", status)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("incoming"),
             F.count_if(F.col("status") == "kept").alias("kept"),
             F.count_if(F.col("status") == "dropped_corpus")
             .alias("dropped_corpus"),
             F.count_if(F.col("status") == "dropped_batch")
             .alias("dropped_batch"))
        .orderBy("source")
    )


ORACLE_INCREMENTAL_DEDUP = _SQL_DOCS + f"""
, fps AS (
    SELECT doc_id, source,
           md5(array_to_string(
               string_split(cleaned_text, ' ')[1:{_PREFIX_TOKENS}], ' '))
               AS fp
    FROM docs
), corpus_fp AS (
    SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fps WHERE doc_id % 10 <> 0
), marked AS (
    SELECT r.source,
           CASE WHEN c.fp IS NOT NULL THEN 'dropped_corpus'
                WHEN r.rn > 1 THEN 'dropped_batch'
                ELSE 'kept' END AS status
    FROM ranked r LEFT JOIN corpus_fp c ON r.fp = c.fp
)
SELECT source,
       COUNT(*) AS incoming,
       COUNT(*) FILTER (WHERE status = 'kept') AS kept,
       COUNT(*) FILTER (WHERE status = 'dropped_corpus') AS dropped_corpus,
       COUNT(*) FILTER (WHERE status = 'dropped_batch') AS dropped_batch
FROM marked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Label centroids + cluster cohesion (distance-to-centroid profile)
# ---------------------------------------------------------------------------

def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean vector) and cluster cohesion:
    the average and worst cosine similarity of members to their own label
    centroid — the label-quality healthcheck between embedding generation
    and ANN indexing (a low-cohesion label is mislabeled or multi-modal,
    and IVF cells built from it will probe badly).

    Shape: posexplode → per-(label, dim) mean (|labels|×dims rows — tiny
    at any corpus size, broadcast back) → per-vector dot/norm fold →
    per-label cohesion aggregate. The centroid table is the only joined
    state; the big flat table is aggregated map-side both times, so the
    exchanges carry |labels|×dims and |vectors| rows respectively, never
    corpus×dims.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "label", "dim", F.col("v").cast("double").alias("v"))
    cent = (flat.groupBy("label", "dim")
            .agg(F.avg("v").alias("c"))
            .withColumnsRenamed({"label": "c_label", "dim": "c_dim"}))
    per_vec = (
        flat.join(F.broadcast(cent),
                  (flat.label == cent.c_label) & (flat.dim == cent.c_dim))
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("v") * F.col("c")).alias("dot"),
             F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("norm_v"),
             F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("norm_c"))
        .withColumn("cos", F.col("dot") / (F.col("norm_v") * F.col("norm_c")))
    )
    return (
        per_vec.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.round(F.first("norm_c"), 4).alias("centroid_norm"),
             F.round(F.avg("cos"), 4).alias("avg_cohesion"),
             F.round(F.min("cos"), 4).alias("min_cohesion"))
        .orderBy("label")
    )


ORACLE_LABEL_CENTROIDS = """
WITH flat AS (
    SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
    SELECT label, dim, AVG(v) AS c
    FROM flat GROUP BY label, dim
), per_vec AS (
    SELECT f.vec_id, f.label,
           SUM(f.v * c.c) AS dot,
           sqrt(SUM(f.v * f.v)) AS norm_v,
           sqrt(SUM(c.c * c.c)) AS norm_c
    FROM flat f JOIN cent c ON f.label = c.label AND f.dim = c.dim
    GROUP BY f.vec_id, f.label
)
SELECT label,
       COUNT(*) AS n_vectors,
       round(MIN(norm_c), 4) AS centroid_norm,
       round(AVG(dot / (norm_v * norm_c)), 4) AS avg_cohesion,
       round(MIN(dot / (norm_v * norm_c)), 4) AS min_cohesion
FROM per_vec
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Unigram log-probability quality score (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------

def _unigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_words, avg_neglogp): per-document average negative
    log-probability under the corpus's own add-one-smoothed unigram LM —
    shared core of ``unigram_logprob`` and ``ccnet_buckets``. The vocabulary
    is the only shared state. Its join back onto the exploded corpus is NOT
    broadcast-hinted: the vocabulary is word-keyed (Heaps-law sublinear but
    unbounded — billions of distinct noise tokens at 100 TB), so forcing a
    broadcast is the bug class plans/lint.py forbids; AQE broadcasts it at
    runtime while it is actually small and falls back to a skew-aware
    shuffled join on ``word`` when it is not."""
    toked = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("cleaned_text")) != "")
        .select("doc_id", "source",
                F.explode(tokens(F.col("cleaned_text"))).alias("word"))
    )
    # The vocabulary has two consumers — the totals collect below and the
    # score join — and each used to replay the corpus explode + word
    # aggregation (guide §2.4; the bigram_logprob staging recipe, r9). It
    # is vocabulary-sized (Heaps-law sublinear — the persisted LM artifact
    # a real pipeline writes once), so it is localCheckpointed and both
    # consumers read the materialized rows: one corpus pass removed from
    # the final plan. Measured via ccnet_buckets paired A/B at sf0.1:
    # median +0.3 s/pass in favor (OPTIMIZATION_r09.md).
    vocab = (toked.groupBy("word").agg(F.count(F.lit(1)).alias("tc"))
             .localCheckpoint())
    # corpus totals derive from the (tiny) vocabulary table, not a second
    # pass over the exploded corpus; 1-row collect = the broadcast anchor
    totals = vocab.agg(
        F.sum("tc").alias("n_tokens"),
        F.count(F.lit(1)).alias("v_size")).collect()[0]
    n_tok, v_size = totals["n_tokens"], totals["v_size"]
    # add-one smoothing: p(w) = (tc + 1) / (N + |V|)
    neglogp = -F.log((F.col("tc") + F.lit(1.0))
                     / F.lit(float(n_tok + v_size)))
    # decimal-summed mean, not F.avg: ccnet_buckets COMPARES the rounded
    # score against tertile thresholds, so the per-doc average must be
    # order-independent across engines (functions/rounding.py)
    from ..functions.rounding import decimal_sum

    return (
        toked.join(vocab, "word")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_words"),
             (decimal_sum(neglogp, 26, 12) / F.count(F.lit(1)))
             .alias("avg_neglogp"))
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source perplexity-proxy profile: score every document by the
    average negative log-probability of its tokens under the corpus's own
    unigram distribution (add-one smoothed) — the CCNet-style quality
    signal where gibberish and boilerplate both stand out (rare-token docs
    score high, stutter-repetition docs score low).

    Two aggregates and one join on the word key: (1) corpus term counts —
    the vocabulary table, tiny relative to the corpus, joined back with
    the strategy left to AQE (see _unigram_doc_scores: word is an
    unbounded key, so the broadcast is never forced); (2) explode docs to
    (doc, word), probe the vocabulary, and average -log p per doc;
    (3) roll per-doc scores up per source. The vocabulary is the only
    shared state — at 100 TB it's the word-count table a real pipeline
    would persist once and reuse across scoring runs.
    """
    from ..functions.rounding import decimal_sum, round_half_up

    per_doc = _unigram_doc_scores(spark, sf_dir)
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"),
             round_half_up(decimal_sum(F.col("avg_neglogp"), 26, 12)
                           / F.count(F.lit(1)), 4).alias("mean_score"),
             round_half_up(F.min("avg_neglogp"), 4).alias("best_score"),
             round_half_up(F.max("avg_neglogp"), 4).alias("worst_score"))
        .orderBy("source")
    )


ORACLE_UNIGRAM_LOGPROB = _SQL_DOCS + """
, toked AS (
    SELECT doc_id, source, unnest(string_split(cleaned_text, ' ')) AS word
    FROM docs WHERE trim(cleaned_text) <> ''
), vocab AS (
    SELECT word, COUNT(*) AS tc FROM toked GROUP BY word
), totals AS (
    SELECT COUNT(*) AS n_tokens,
           COUNT(DISTINCT word) AS v_size
    FROM toked
), per_doc AS (
    SELECT t.doc_id, t.source,
           CAST(SUM(CAST(-ln((v.tc + 1.0) / (tt.n_tokens + tt.v_size))
                         AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*)
               AS avg_neglogp
    FROM toked t JOIN vocab v ON t.word = v.word CROSS JOIN totals tt
    GROUP BY t.doc_id, t.source
)
SELECT source,
       COUNT(*) AS docs,
       floor((CAST(SUM(CAST(avg_neglogp AS DECIMAL(26,12))) AS DOUBLE)
              / COUNT(*)) * 10000 + 0.5) / 10000 AS mean_score,
       floor(MIN(avg_neglogp) * 10000 + 0.5) / 10000 AS best_score,
       floor(MAX(avg_neglogp) * 10000 + 0.5) / 10000 AS worst_score
FROM per_doc
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Quality-weighted deterministic sampling
# ---------------------------------------------------------------------------

_W_BASE_RATE = 0.8


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reproducible sampling: each document's keep-probability is
    proportional to a per-doc weight (length as the quality stand-in,
    normalized by the corpus max), gated by the md5-uniform trick — so
    membership is still a pure function of the key (stable across runs,
    engines, partitionings) but higher-quality docs survive
    proportionally more often, the usual shape for quality-weighted
    corpus construction.

    The corpus max is a 1-row broadcast anchor; everything else is the
    single scan + one aggregation exchange of the unweighted sampler.
    """
    docs = load_table(spark, sf_dir, "documents")
    max_chars = docs.agg(F.max("n_chars").alias("max_chars"))
    u = (F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
         .cast("double") / F.lit(4294967296.0))
    p = F.lit(_W_BASE_RATE) * F.col("n_chars") / F.col("max_chars")
    kept = F.when(u < p, 1)
    return (
        docs.crossJoin(F.broadcast(max_chars))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("total_docs"),
             F.count(kept).alias("kept_docs"),
             F.sum(F.when(kept.isNotNull(), F.col("n_chars"))
                   .otherwise(F.lit(0))).alias("kept_chars"))
        .withColumn("achieved_rate",
                    F.round(F.col("kept_docs") / F.col("total_docs"), 4))
        .orderBy("source")
    )


ORACLE_WEIGHTED_SAMPLE = f"""
WITH anchored AS (
    SELECT d.*,
           (SELECT MAX(n_chars) FROM documents) AS max_chars,
           CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
    FROM documents d
)
SELECT source,
       COUNT(*) AS total_docs,
       COUNT(*) FILTER (WHERE u < {_W_BASE_RATE} * n_chars / max_chars)
           AS kept_docs,
       CAST(SUM(CASE WHEN u < {_W_BASE_RATE} * n_chars / max_chars
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       round(COUNT(*) FILTER (WHERE u < {_W_BASE_RATE} * n_chars / max_chars)
             / COUNT(*), 4) AS achieved_rate
FROM anchored
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Embedding int8 quantization (storage/bandwidth reduction audit)
# ---------------------------------------------------------------------------

def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column and
    its accuracy audit: scale = max|x|/127, q_i = round(x_i/scale), and the
    per-label reconstruction error of dequantized vectors — the 4×
    storage/bandwidth cut every large ANN index takes, with the error
    number that justifies it.

    All array algebra (transform/aggregate folds), zero Python crossings;
    the audit aggregates per label so the output is |labels| rows at any
    corpus size. In production the quantized array<tinyint> is what gets
    persisted; this query keeps quantize→dequantize→compare in one plan to
    stay self-contained.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    scale = (F.aggregate(xd, F.lit(0.0),
                         lambda acc, x: F.greatest(acc, F.abs(x)))
             / F.lit(127.0))
    with_q = (
        emb.select("vec_id", "label", xd.alias("x"),
                   scale.alias("scale"))
        .select(
            "vec_id", "label", "x", "scale",
            F.transform("x", lambda v: F.round(v / F.col("scale"))
                        .cast("int")).alias("q"))
    )
    err = F.aggregate(
        F.zip_with("x", "q",
                   lambda v, qq: F.abs(v - qq.cast("double") * F.col("scale"))),
        F.lit(0.0), lambda acc, e: acc + e) / F.size("x")
    return (
        with_q.select("label", F.col("scale").alias("s"), err.alias("mae"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.round(F.avg("s"), 6).alias("avg_scale"),
             F.round(F.avg("mae"), 6).alias("avg_mae"),
             F.round(F.max("mae"), 6).alias("worst_mae"))
        .orderBy("label")
    )


ORACLE_QUANTIZE_EMBEDDINGS = """
WITH prep AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x,
           list_aggregate(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0
               AS scale
    FROM embeddings
), q AS (
    SELECT vec_id, label, x, scale,
           list_transform(x, v -> CAST(round(v / scale) AS INTEGER)) AS qv
    FROM prep
), scored AS (
    SELECT label, scale,
           list_sum(list_transform(range(1, len(x) + 1),
               i -> abs(x[i] - CAST(qv[i] AS DOUBLE) * scale)))
               / len(x) AS mae
    FROM q
)
SELECT label,
       COUNT(*) AS n_vectors,
       round(AVG(scale), 6) AS avg_scale,
       round(AVG(mae), 6) AS avg_mae,
       round(MAX(mae), 6) AS worst_mae
FROM scored
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Deterministic dataset splitting and per-group sampling
# ---------------------------------------------------------------------------

def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the reproducible-split
    primitive every training pipeline needs before anything else.

    The split is a pure function of the key: the first two hex digits of
    md5(doc_id) give a uniform 0-255 bucket, cut at 204/230 (≈80/10/10).
    Unlike ``randomSplit``, membership survives reruns, repartitioning,
    engine changes, and corpus growth (old docs never migrate between
    splits when new docs arrive — the property that keeps eval sets
    uncontaminated across dataset versions). Reported: per-split doc count,
    token volume, share. One scan, one 3-group aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    split = (
        F.when(bucket < 204, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
    )
    n_tok = F.size(F.filter(F.split(F.col("text"), " "),
                            lambda t: t != F.lit("")))
    # share-of-total via SUM() OVER () on the 3-row aggregate — single
    # fact scan; the single-partition window exchange moves 3 rows (a
    # crossJoin total branch would re-scan the corpus: the global-agg
    # branch plans a different partial aggregate, no exchange reuse)
    total = Window.partitionBy()
    return (
        docs.select(split.alias("split"), n_tok.alias("n_tok"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tok").alias("n_tokens"))
        .withColumn(
            "doc_share",
            F.round(F.col("n_docs") / F.sum("n_docs").over(total), 4))
        .orderBy("split")
    )


ORACLE_DATASET_SPLIT = """
WITH assigned AS (
  SELECT CASE
           WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                     AS BIGINT) < 204 THEN 'train'
           WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                     AS BIGINT) < 230 THEN 'val'
           ELSE 'test'
         END AS split,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       round(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 4) AS doc_share
FROM assigned
GROUP BY split
ORDER BY split
"""


_PER_SOURCE_K = 5


def q_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (reservoir-sample twin): the k
    docs with the smallest md5(doc_id) within each source. Hash-ranking
    makes the "random" choice a pure function of the key — stable across
    runs and engines — while the per-group window gives uniform-without-
    replacement semantics. One sort-exchange on source; at 100 TB the
    rank-k cutoff discards everything else map-side first via the window
    group limit optimization (rank predicate pushed into the sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc())
    return (
        docs.select("doc_id", "source", "lang", "n_chars",
                    h.alias("sort_key"))
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= _PER_SOURCE_K)
        .drop("sort_key")
        .orderBy("source", "pick_rank")
    )


_RESERVOIR_K = 100


def q_streaming_reservoir_sample(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Bounded uniform sample maintained by STRUCTURED STREAMING: the
    documents table consumed as a micro-batched file stream through
    ``streaming/sinks.py::reservoir_sample_sink`` (bottom-k by md5(id) —
    k-row state, order/duplicate/replay-insensitive by algebra), then the
    final store read back and ranked. Fifth member of the streaming=batch
    gate family; its state class is a bounded PRIORITY SAMPLE (the other
    members carry rollup, sketch-register, and window state).

    The oracle is the batch formulation of the same sample —
    ``ORDER BY md5(id) LIMIT k`` — so the gate proves the incremental
    maintenance converges to the batch answer exactly: a merge bug that
    ever evicts a lower-priority row for a higher one breaks the hash.
    """
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_through_store
    from ..streaming.sinks import read_reservoir_sample, reservoir_sample_sink

    src = load_table_stream(spark, sf_dir, "documents") \
        .select("doc_id", "source", "lang", "n_chars")
    res = drain_through_store(
        "reservoir_",
        lambda root: reservoir_sample_sink(
            src, f"{root}/sample", f"{root}/ckpt", k=_RESERVOIR_K),
        lambda root: read_reservoir_sample(spark, f"{root}/sample"))
    w = Window.orderBy("__h")
    return (res
            .withColumn("pick_rank",
                        F.row_number().over(w).cast("long"))
            .select("doc_id", "source", "lang", "n_chars", "pick_rank")
            .orderBy("pick_rank"))


ORACLE_STREAMING_RESERVOIR_SAMPLE = f"""
SELECT doc_id, source, lang, n_chars, pick_rank
FROM (
  SELECT doc_id, source, lang, n_chars,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC) AS BIGINT)
             AS pick_rank
  FROM documents
)
WHERE pick_rank <= {_RESERVOIR_K}
ORDER BY pick_rank
"""


ORACLE_SOURCE_SAMPLE = f"""
SELECT doc_id, source, lang, n_chars, pick_rank
FROM (
  SELECT doc_id, source, lang, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC) AS BIGINT) AS pick_rank
  FROM documents
)
WHERE pick_rank <= {_PER_SOURCE_K}
ORDER BY source, pick_rank
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the token stream, with the CMS
    accuracy contract carried INTO the oracle gate (r5 verdict #7): build
    the (depth×width)-cell sketch in one pass, probe the top-10 words
    (by exact count — SQL-reproducible ranking), and emit, per word, the
    exact count plus two sketch-invariant booleans the DuckDB twin pins
    as literally TRUE:

    - ``overestimates``: est >= true — the CMS theorem (min over depth
      hash rows can only collide upward); ANY false here is a sketch bug.
    - ``within_bound``: est - true <= ε·N with ε = e/width — the
      Markov-bound guarantee (holds per word with prob 1-(1/e)^depth;
      deterministic for fixed data + xxhash64 seed, verified at every
      test SF).

    The estimate itself has no DuckDB twin (xxhash64), which is exactly
    why the gate pins the THEOREMS the estimate must satisfy against the
    exact counts the oracle CAN compute — the query fails the value-hash
    the moment the sketch under-counts or blows its error budget.
    (Point-estimate accuracy is additionally pinned in
    tests/test_skew_sketch.py::TestCountMin.)

    At 100 TB the sketch build's shuffle input is bounded at depth×width
    cells per partition regardless of corpus size; the probe broadcasts
    ≤ depth×width rows; the exact counts reuse the one word-count
    aggregate every frequency query already runs; ε·N's anchor is a
    1-row global aggregate.
    """
    from ..operators.cms import (
        DEFAULT_DEPTH, DEFAULT_WIDTH, cms_build, cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    words = docs.select(
        F.explode(F.filter(F.split(F.lower("text"), "[^a-z]+"),
                           lambda t: t != F.lit(""))).alias("word"))
    sketch = cms_build(words, "word",
                       depth=DEFAULT_DEPTH, width=DEFAULT_WIDTH)
    true_counts = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("true_count"))
    total = words.agg(F.count(F.lit(1)).alias("n_total"))
    eps = 2.718281828459045 / DEFAULT_WIDTH
    return (
        true_counts
        .join(cms_estimate(sketch, words, "word",
                           depth=DEFAULT_DEPTH, width=DEFAULT_WIDTH), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "word", "true_count",
            (F.col("est_count") >= F.col("true_count"))
            .alias("overestimates"),
            ((F.col("est_count") - F.col("true_count"))
             <= F.lit(eps) * F.col("n_total")).alias("within_bound"))
        .orderBy(F.desc("true_count"), "word")
        .limit(10)
    )


ORACLE_HEAVY_HITTERS = """
WITH words AS (
    SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '[^a-z]+'), t -> t <> '')) AS word
    FROM documents WHERE lang = 'en'
)
SELECT word, COUNT(*) AS true_count,
       TRUE AS overestimates, TRUE AS within_bound
FROM words
GROUP BY word
ORDER BY true_count DESC, word
LIMIT 10
"""


def q_streaming_heavy_hitters(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Heavy hitters whose count-min sketch is maintained INCREMENTALLY by
    structured streaming: the documents stream feeds
    ``streaming/sinks.py::cms_sink`` (one ≤ depth×width-cell sketch per
    micro-batch, ``batch_id=`` partitions, replay-idempotent), the live
    sketch is the cell-wise sum (``read_cms`` — CMS mergeability is what
    makes the incremental form correct), and the drained sketch is probed
    exactly like the batch ``q_heavy_hitters``. Sixth member of the
    streaming=batch gate family; state class: mergeable COUNTER GRID.

    Shares ORACLE_HEAVY_HITTERS: the invariant pair brackets the merge —
    a lost or replayed-without-overwrite batch breaks ``overestimates``
    (under-count) or ``within_bound`` (double-count inflates est-true
    past ε·N for the top words), so cross-micro-batch merge bugs fail
    the value hash even though the estimate itself has no SQL twin.
    """
    from ..operators.cms import (
        DEFAULT_DEPTH, DEFAULT_WIDTH, cms_estimate,
    )
    from ..session import run_concurrently
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_through_store
    from ..streaming.sinks import cms_sink, read_cms

    word_arr = F.filter(F.split(F.lower("text"), "[^a-z]+"),
                        lambda t: t != F.lit(""))
    words = (load_table(spark, sf_dir, "documents")
             .filter(F.col("lang") == "en")
             .select(F.explode(word_arr).alias("word")))

    # drain and batch true-count arm are independent until the probe join;
    # run them as concurrent jobs (guide §2.6, the knn_ivf recipe) so the
    # corpus word aggregate back-fills cores while the drain sits in
    # MicroBatchExecution's driver-side machinery. The CMS sink keeps no
    # streaming state, so the drain starts through ``run_available_now``,
    # which never touches the session conf while the other arm plans.
    def _drain():
        src_words = (load_table_stream(spark, sf_dir, "documents")
                     .filter(F.col("lang") == "en")
                     .select(F.explode(word_arr).alias("word")))
        return drain_through_store(
            "cms_stream_",
            lambda root: cms_sink(
                src_words, "word", f"{root}/cms", f"{root}/ckpt",
                depth=DEFAULT_DEPTH, width=DEFAULT_WIDTH),
            lambda root: read_cms(spark, f"{root}/cms"))

    def _true_counts():
        return words.groupBy("word").agg(
            F.count(F.lit(1)).alias("true_count")).localCheckpoint()

    sketch, true_counts = run_concurrently(_drain, _true_counts)
    total = words.agg(F.count(F.lit(1)).alias("n_total"))
    eps = 2.718281828459045 / DEFAULT_WIDTH
    return (
        true_counts
        .join(cms_estimate(sketch, words, "word",
                           depth=DEFAULT_DEPTH, width=DEFAULT_WIDTH),
              "word")
        .crossJoin(F.broadcast(total))
        .select(
            "word", "true_count",
            (F.col("est_count") >= F.col("true_count"))
            .alias("overestimates"),
            ((F.col("est_count") - F.col("true_count"))
             <= F.lit(eps) * F.col("n_total")).alias("within_bound"))
        .orderBy(F.desc("true_count"), "word")
        .limit(10)
    )


_XDOC_SHINGLE_K = 8
_XDOC_SHARED_FRAC = 0.5


def q_cross_doc_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring overlap — the shingle-level stand-in for
    exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): flag documents where ≥50% of their
    distinct 8-token shingles also appear in some OTHER document.

    Two aggregates over one exploded scan: shingle → document frequency,
    then a join-back and per-doc rollup. The shingle df table is the only
    corpus-sized shuffle; the threshold makes the result the flagged-doc
    manifest a curation run would quarantine. Unlike MinHash (whole-doc
    similarity), this catches partial overlap — a document embedding a
    copied paragraph inside otherwise-fresh text.
    """
    from ..functions.text import shingles_from_tokens, tokens

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            shingles_from_tokens(tokens(F.col("text")), _XDOC_SHINGLE_K)
        ).alias("shs"))
    ex = sh.select("doc_id", F.explode("shs").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq"))
    return (
        ex.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.count(F.when(F.col("dfreq") > 1, 1)).alias("n_shared"))
        .withColumn("shared_frac",
                    F.round(F.col("n_shared") / F.col("n_shingles"), 4))
        .filter(F.col("shared_frac") >= _XDOC_SHARED_FRAC)
        .orderBy("doc_id")
    )


ORACLE_CROSS_DOC_OVERLAP = f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < {_XDOC_SHINGLE_K}
              THEN [array_to_string(toks, ' ')]
              ELSE list_distinct([
                  array_to_string(toks[i:i+{_XDOC_SHINGLE_K}-1], ' ')
                  for i in range(1, len(toks) - {_XDOC_SHINGLE_K} + 2)])
         END AS shs
  FROM toked
), ex AS (
  SELECT doc_id, unnest(shs) AS s FROM sh
), dfreq AS (
  SELECT s, COUNT(*) AS dfreq FROM ex GROUP BY s
)
SELECT ex.doc_id AS doc_id,
       COUNT(*) AS n_shingles,
       COUNT(*) FILTER (dfreq > 1) AS n_shared,
       round(COUNT(*) FILTER (dfreq > 1) / CAST(COUNT(*) AS DOUBLE), 4)
           AS shared_frac
FROM ex JOIN dfreq USING (s)
GROUP BY ex.doc_id
HAVING round(COUNT(*) FILTER (dfreq > 1) / CAST(COUNT(*) AS DOUBLE), 4)
       >= {_XDOC_SHARED_FRAC}
ORDER BY doc_id
"""


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop per-source corpus datasheet — the summary table a dataset
    card publishes: volume (docs, tokens, chars), language mix, and the
    exact-duplicate rate.

    Two exchanges total: a fingerprint window (count over md5(text) marks
    docs whose exact content appears elsewhere — window, not self-join) and
    the per-source rollup; every metric is a conditional aggregate in the
    same pass. The shape scales because each metric is a sum/count — the
    datacard of a 100 TB corpus is the same plan with more partitions.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "),
                            lambda t: t != F.lit("")))
    fp_w = Window.partitionBy(F.md5("text"))
    enriched = docs.select(
        "source", "lang", "n_chars", n_tok.alias("n_tok"),
        (F.count(F.lit(1)).over(fp_w) > 1).alias("is_dup"))
    return (
        enriched.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.count(F.when(F.col("lang") == "en", 1))
                    / F.count(F.lit(1)), 4).alias("en_share"),
            F.round(F.count(F.when(F.col("is_dup"), 1))
                    / F.count(F.lit(1)), 4).alias("dup_rate"),
        )
        .orderBy("source")
    )


ORACLE_CORPUS_DATACARD = """
WITH enriched AS (
  SELECT source, lang, n_chars,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
         COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       round(AVG(n_chars), 4) AS avg_chars,
       round(COUNT(*) FILTER (lang = 'en') / CAST(COUNT(*) AS DOUBLE), 4)
           AS en_share,
       round(COUNT(*) FILTER (is_dup) / CAST(COUNT(*) AS DOUBLE), 4)
           AS dup_rate
FROM enriched
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Bigram log-probability quality score (KenLM-style, order-2)
# ---------------------------------------------------------------------------

def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source order-2 perplexity-proxy profile: score every document by
    the average negative log-probability of its word bigrams under the
    corpus's own conditional bigram model, add-one smoothed over the
    vocabulary — the next step up from ``unigram_logprob``: a doc full of
    common words in UNCOMMON ORDER now scores badly, which is exactly the
    word-salad signal an order-1 model cannot see.

    p(w2 | w1) = (c(w1 w2) + 1) / (ctx(w1) + |V|), with ctx(w1) the number
    of bigrams whose left word is w1 (so the conditional sums to 1) and
    |V| the vocabulary size.

    Dataflow: one explode to (doc, bigram); the bigram-count table (bounded
    by distinct bigrams ≪ corpus tokens, the persisted LM artifact at
    100 TB) aggregates from it, context counts aggregate from the bigram
    table (vocab-sized, no extra corpus pass), and scoring is a broadcast
    probe of the model back onto the exploded corpus — the fact moves once.
    """
    w = tokens(F.col("cleaned_text"))
    # localCheckpoint the exploded (doc, bigram) table: BOTH the model build
    # and the scoring probe read it, so the barrier makes the corpus
    # tokenize/explode exactly once (without it each consumer replays the
    # scan). At 100 TB this is the tokenized-corpus pass a pipeline stages
    # anyway; checkpoint (not persist) so the blocks free on GC — no cache
    # accumulation across queries in one session.
    pairs = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("cleaned_text")) != "")
        .filter(F.size(w) >= 2)
        .select(
            "doc_id", "source",
            F.explode(
                F.zip_with(
                    F.slice(w, 1, F.size(w) - 1),
                    F.slice(w, 2, F.size(w) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bigram"),
        )
    ).localCheckpoint()
    # the distinct-bigram count table (vocabulary-sized — the persisted LM
    # artifact at 100 TB); reads the checkpointed pairs, not the raw corpus.
    # It has THREE consumers (ctx build, |V| count, probe broadcast), each
    # of which would otherwise re-run the aggregation over the corpus-sized
    # pairs table (profiled: three 0.2-0.5 s passes at sf0.1), so stage it
    # once behind its own checkpoint — exactly the "persisted LM artifact"
    # a production pipeline writes; coalesce(1) because it is
    # vocabulary-sized (931 rows at sf0.1), so consumer passes should not
    # pay a 32-task wave.
    bc = (pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("bc"))
          .coalesce(1).localCheckpoint())
    model = bc.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    ctx = model.groupBy("w1").agg(F.sum("bc").alias("ctx"))
    model = model.join(F.broadcast(ctx), "w1")
    # |V| = distinct words across the corpus (right words of bigrams plus
    # leading words = all words of every >=2-token doc; counted from the
    # model table, not another corpus pass)
    v_size = (
        model.select(F.explode(F.split("bigram", " ")).alias("word"))
        .agg(F.count_distinct("word")).collect()[0][0]
    )
    neglogp = -F.log((F.col("bc") + F.lit(1.0))
                     / (F.col("ctx") + F.lit(float(v_size))))
    per_doc = (
        pairs.join(F.broadcast(model.select("bigram", "bc", "ctx")), "bigram")
        .groupBy("doc_id", "source")
        .agg(F.avg(neglogp).alias("avg_neglogp"))
    )
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.round(F.avg("avg_neglogp"), 4).alias("mean_score"),
             F.round(F.min("avg_neglogp"), 4).alias("best_score"),
             F.round(F.max("avg_neglogp"), 4).alias("worst_score"))
        .orderBy("source")
    )


ORACLE_BIGRAM_LOGPROB = _SQL_DOCS + """
, toked AS (
    SELECT doc_id, source, string_split(cleaned_text, ' ') AS w
    FROM docs WHERE trim(cleaned_text) <> '' AND len(string_split(cleaned_text, ' ')) >= 2
), pairs AS (
    SELECT doc_id, source,
           unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS pr
    FROM toked
), bigrams AS (
    SELECT doc_id, source, pr[1] || ' ' || pr[2] AS bigram FROM pairs
), bc AS (
    SELECT bigram, COUNT(*) AS bc FROM bigrams GROUP BY bigram
), model AS (
    SELECT bigram, bc, split_part(bigram, ' ', 1) AS w1 FROM bc
), ctx AS (
    SELECT w1, SUM(bc) AS ctx FROM model GROUP BY w1
), vsize AS (
    SELECT COUNT(DISTINCT word) AS v FROM (
        SELECT unnest(string_split(bigram, ' ')) AS word FROM model)
), per_doc AS (
    SELECT b.doc_id, b.source,
           AVG(-ln((m.bc + 1.0) / (c.ctx + vs.v))) AS avg_neglogp
    FROM bigrams b
    JOIN model m ON b.bigram = m.bigram
    JOIN ctx c ON m.w1 = c.w1
    CROSS JOIN vsize vs
    GROUP BY b.doc_id, b.source
)
SELECT source,
       COUNT(*) AS docs,
       round(AVG(avg_neglogp), 4) AS mean_score,
       round(MIN(avg_neglogp), 4) AS best_score,
       round(MAX(avg_neglogp), 4) AS worst_score
FROM per_doc
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------

_HARDNEG_K = 5


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each label's centroid, the top-5 most
    similar vectors belonging to OTHER labels — the contrastive-training
    negatives that are actually hard (near the decision boundary), as
    opposed to random negatives that teach the model nothing.

    Shape: the |labels|×dims centroid table broadcasts; every vector is
    scored against every OTHER label's centroid in one map-side fold
    (vectors × |labels| intermediate rows, aggregated on (vec, label)
    before any exchange), then a per-centroid top-k window. Ranking is on
    the ROUNDED cosine with vec_id tiebreak so the top-k is engine-stable.
    At 100 TB the |labels|-fanout join is the same bounded pattern as
    ``label_centroids``; for open-ended label sets, swap the broadcast for
    the ANN bucket join (``knn_join_ann``).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "label", "dim", F.col("v").cast("double").alias("v"))
    cent = (flat.groupBy("label", "dim")
            .agg(F.avg("v").alias("c"))
            .withColumnsRenamed({"label": "c_label", "dim": "c_dim"}))
    scored = (
        flat.join(F.broadcast(cent), flat.dim == cent.c_dim)
        .filter(F.col("label") != F.col("c_label"))
        .groupBy("c_label", "vec_id", "label")
        .agg(F.sum(F.col("v") * F.col("c")).alias("dot"),
             F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("norm_v"),
             F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("norm_c"))
        .withColumn("cosine", F.round(
            F.col("dot") / (F.col("norm_v") * F.col("norm_c")), 4))
    )
    w = Window.partitionBy("c_label").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HARDNEG_K)
        .select(F.col("c_label").alias("anchor_label"), "rank",
                "vec_id", F.col("label").alias("negative_label"), "cosine")
        .orderBy("anchor_label", "rank")
    )


ORACLE_HARD_NEGATIVES = f"""
WITH flat AS (
    SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
    SELECT label AS c_label, dim, AVG(v) AS c
    FROM flat GROUP BY label, dim
), scored AS (
    SELECT ct.c_label, f.vec_id, f.label,
           round(SUM(f.v * ct.c)
                 / (sqrt(SUM(f.v * f.v)) * sqrt(SUM(ct.c * ct.c))), 4)
               AS cosine
    FROM flat f JOIN cent ct ON f.dim = ct.dim AND f.label <> ct.c_label
    GROUP BY ct.c_label, f.vec_id, f.label
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY c_label ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT c_label AS anchor_label, rank, vec_id,
       label AS negative_label, cosine
FROM ranked WHERE rank <= {_HARDNEG_K}
ORDER BY anchor_label, rank
"""


# ---------------------------------------------------------------------------
# Duplicate-cluster size distribution (dedup health report)
# ---------------------------------------------------------------------------

def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup health report: the distribution of exact-duplicate cluster
    sizes (how many fingerprints occur 1×, 2×, 3×…) plus each bucket's
    share of total volume — the histogram that tells you whether dup mass
    sits in a few huge clusters (boilerplate — cheap to remove) or a long
    tail of pairs (near-dup methods needed).

    Two aggregates, both with partial combine: fingerprint → copies (the
    only corpus-sized exchange), then copies → cluster count. Output is
    max-multiplicity-sized."""
    docs = _docs(spark, sf_dir)
    clusters = (
        docs.filter(F.trim(F.col("cleaned_text")) != "")
        .groupBy(F.md5(F.col("cleaned_text")).alias("fp"))
        .agg(F.count(F.lit(1)).alias("copies"))
    )
    return (
        clusters.groupBy("copies")
        .agg(F.count(F.lit(1)).alias("n_clusters"),
             (F.count(F.lit(1)) * F.col("copies")).cast("bigint")
             .alias("n_docs"))
        .orderBy("copies")
    )


ORACLE_DUP_CLUSTER_SIZES = _SQL_DOCS + """
, clusters AS (
    SELECT md5(cleaned_text) AS fp, COUNT(*) AS copies
    FROM docs WHERE trim(cleaned_text) <> ''
    GROUP BY md5(cleaned_text)
)
SELECT copies,
       COUNT(*) AS n_clusters,
       CAST(COUNT(*) * copies AS BIGINT) AS n_docs
FROM clusters
GROUP BY copies
ORDER BY copies
"""


# ---------------------------------------------------------------------------
# CCNet-style perplexity-bucket split
# ---------------------------------------------------------------------------

def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: split the corpus into head / middle /
    tail by per-document LM score tertiles (CCNet orders documents by
    target-side perplexity and keeps the head; here the LM is the corpus's
    own unigram model — swap in the KenLM score column and nothing else
    changes). Reported per bucket: doc count, token volume, mean score.

    Scale shape: the per-doc score table is the artifact a real pipeline
    persists (one row per document); it takes a materialization barrier
    (localCheckpoint) so the tertile thresholds (1-row exact-percentile
    aggregate, broadcast back) and the bucket rollup both read it without
    replaying the corpus explode. Thresholds use DISCRETE percentiles
    (percentile_disc ≡ DuckDB quantile_disc: an order statistic, no
    interpolation), so a document sitting exactly on a tertile boundary
    lands in the same bucket in both engines — continuous percentile()
    vs quantile_cont() can differ by ulps in the interpolation op order.
    """
    from ..functions.rounding import decimal_sum, round_half_up

    per_doc = (_unigram_doc_scores(spark, sf_dir)
               .withColumn("score_r",
                           round_half_up(F.col("avg_neglogp"), 6))
               .localCheckpoint())
    th = per_doc.agg(
        F.expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY score_r)")
        .alias("t1"),
        F.expr("percentile_disc(0.67) WITHIN GROUP (ORDER BY score_r)")
        .alias("t2"))
    bucket = (F.when(F.col("score_r") <= F.col("t1"), "head")
              .when(F.col("score_r") <= F.col("t2"), "middle")
              .otherwise("tail"))
    return (per_doc.crossJoin(F.broadcast(th))
            .select(bucket.alias("bucket"), "n_words", "score_r")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").alias("total_words"),
                 round_half_up(decimal_sum(F.col("score_r"), 26, 6)
                               / F.count(F.lit(1)), 4).alias("mean_score"))
            .orderBy("bucket"))


ORACLE_CCNET_BUCKETS = _SQL_DOCS + """
, toked AS (
    SELECT doc_id, source, unnest(string_split(cleaned_text, ' ')) AS word
    FROM docs WHERE trim(cleaned_text) <> ''
), vocab AS (
    SELECT word, COUNT(*) AS tc FROM toked GROUP BY word
), totals AS (
    SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT word) AS v_size FROM toked
), per_doc AS (
    SELECT t.doc_id, COUNT(*) AS n_words,
           floor((CAST(SUM(CAST(-ln((v.tc + 1.0)
                                     / (tt.n_tokens + tt.v_size))
                                AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*))
                 * 1000000 + 0.5) / 1000000 AS score_r
    FROM toked t JOIN vocab v ON t.word = v.word CROSS JOIN totals tt
    GROUP BY t.doc_id
), th AS (
    SELECT quantile_disc(score_r, 0.33) AS t1,
           quantile_disc(score_r, 0.67) AS t2
    FROM per_doc
)
SELECT CASE WHEN score_r <= t1 THEN 'head'
            WHEN score_r <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       floor((CAST(SUM(CAST(score_r AS DECIMAL(26,6))) AS DOUBLE)
              / COUNT(*)) * 10000 + 0.5) / 10000 AS mean_score
FROM per_doc CROSS JOIN th
GROUP BY bucket
ORDER BY bucket
"""


def q_doc_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup similarity graph: deterministic
    synchronous label propagation (operators/graph.py::label_propagation)
    on the jaccard pair edges, rolled up to community sizes. Complements
    dedup_clusters (hard connectivity → keep-one-per-cluster) with the
    soft-community view used for corpus mixing / topic balance. The fixed
    5-round synchronous LPA unrolls into a chained-CTE DuckDB oracle;
    clique-separation and determinism are additionally pinned in
    tests/test_graph.py::TestLabelPropagation."""
    from ..operators.graph import label_propagation

    labels = label_propagation(
        _jaccard_pairs(spark, sf_dir), "a_id", "b_id", max_iter=5)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("community_size"))
        .groupBy("community_size")
        .agg(F.count(F.lit(1)).alias("n_communities"))
        .orderBy("community_size")
    )


def _communities_oracle(max_iter: int = 5) -> str:
    """DuckDB twin of q_doc_communities: synchronous LPA with a fixed round
    count unrolls to chained CTEs (lab0..labN) — one grouped count + top-1
    per round, where ROW_NUMBER() ORDER BY COUNT(*) DESC, label ASC is
    exactly the Spark side's min-struct((-n, label)) tie-break. Pure integer
    arithmetic end to end, so parity is bit-exact by construction."""
    sql = _SQL_JACCARD_PAIRS + """
, und AS (
    SELECT DISTINCT u, v
    FROM (SELECT a_id AS u, b_id AS v FROM pairs
          UNION ALL SELECT b_id AS u, a_id AS v FROM pairs)
    WHERE u <> v
), lab0 AS (
    SELECT DISTINCT u AS node, u AS label FROM und
)"""
    for k in range(max_iter):
        sql += f"""
, lab{k + 1} AS (
    SELECT node, label FROM (
        SELECT e.u AS node, p.label,
               ROW_NUMBER() OVER (PARTITION BY e.u
                   ORDER BY COUNT(*) DESC, p.label ASC) AS rn
        FROM und e JOIN lab{k} p ON e.v = p.node
        GROUP BY e.u, p.label
    ) WHERE rn = 1
)"""
    sql += f"""
, comm AS (
    SELECT label, COUNT(*) AS community_size FROM lab{max_iter} GROUP BY label
)
SELECT community_size, COUNT(*) AS n_communities
FROM comm
GROUP BY community_size
ORDER BY community_size
"""
    return sql


ORACLE_DOC_COMMUNITIES = _communities_oracle()


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (corpus mixing weights)
# ---------------------------------------------------------------------------

def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights with a UniMax-style epoch
    cap: w_s proportional to share_s^(1/T) at T=2 (up-weights small sources the
    way multilingual/multi-domain pretraining mixes do), allocated against a
    one-corpus token budget, with per-source repetition capped at 4 epochs.

    Complements q_source_mix (which DOWN-samples everything to the smallest
    source): here the budget is redistributed by temperature, and the report
    shows which sources hit the repetition cap (their overflow is what an
    iterative UniMax would hand to the uncapped sources).

    Scale: one column-pruned corpus scan for per-source token totals; all
    mixture math runs on the #sources-row aggregate via unpartitioned windows
    (20 rows here, a few thousand at worst in production). The normalizer
    sums doubles with decimal accumulation so Spark's partial-agg tree and
    the oracle's sequential loop produce identical bits; ratios derived from
    integer token counts are exact on both engines.
    """
    from ..functions.rounding import round_half_up

    toked = _docs(spark, sf_dir).select(
        "source",
        F.when(F.col("cleaned_text") == "", F.lit(0))
         .otherwise(F.size(tokens(F.col("cleaned_text"))))
         .cast("long").alias("n_tok"))
    totals = toked.groupBy("source").agg(
        F.sum("n_tok").alias("source_tokens"))

    w_all = Window.partitionBy()
    total_tokens = F.sum("source_tokens").over(w_all)  # long: exact
    share = F.col("source_tokens").cast("double") / total_tokens
    w_raw = F.sqrt(share)  # share^(1/T), T=2
    # decimal accumulation => order-independent normalizer (see rounding.py)
    z = (F.sum(w_raw.cast("decimal(26,12)")).over(w_all)).cast("double")
    enriched = totals.select(
        "source", "source_tokens",
        total_tokens.alias("total_tokens"),
        share.alias("share"), w_raw.alias("w_raw"), z.alias("z"))

    alloc = F.floor(F.col("w_raw") / F.col("z")
                    * F.col("total_tokens")).cast("long")
    epochs_raw = alloc.cast("double") / F.col("source_tokens")
    return (
        enriched.select(
            "source",
            "source_tokens",
            round_half_up(F.col("share"), 6).alias("share"),
            round_half_up(F.col("w_raw") / F.col("z"), 6).alias("weight"),
            alloc.alias("alloc_tokens"),
            round_half_up(F.least(epochs_raw, F.lit(4.0)), 6).alias("epochs"),
            (epochs_raw > 4.0).alias("capped"),
            F.least(alloc, F.col("source_tokens") * 4).alias("capped_tokens"),
        )
        .orderBy("source")
    )


ORACLE_MIXTURE_WEIGHTS = _SQL_DOCS + """
, toked AS (
    SELECT source,
           CASE WHEN cleaned_text = '' THEN 0
                ELSE len(string_split(cleaned_text, ' ')) END AS n_tok
    FROM docs
), totals AS (
    SELECT source, SUM(n_tok) AS source_tokens FROM toked GROUP BY source
), enriched AS (
    SELECT source, source_tokens,
           SUM(source_tokens) OVER () AS total_tokens,
           CAST(source_tokens AS DOUBLE)
               / CAST(SUM(source_tokens) OVER () AS DOUBLE) AS share,
           sqrt(CAST(source_tokens AS DOUBLE)
               / CAST(SUM(source_tokens) OVER () AS DOUBLE)) AS w_raw
    FROM totals
), normed AS (
    SELECT *,
           CAST(SUM(CAST(w_raw AS DECIMAL(26,12))) OVER () AS DOUBLE) AS z,
           CAST(floor(w_raw
               / CAST(SUM(CAST(w_raw AS DECIMAL(26,12))) OVER () AS DOUBLE)
               * CAST(total_tokens AS DOUBLE)) AS BIGINT) AS alloc_tokens
    FROM enriched
)
SELECT source,
       CAST(source_tokens AS BIGINT) AS source_tokens,
       floor(share * 1000000 + 0.5) / 1000000 AS share,
       floor(w_raw / z * 1000000 + 0.5) / 1000000 AS weight,
       alloc_tokens,
       floor(least(CAST(alloc_tokens AS DOUBLE) / source_tokens, 4.0)
             * 1000000 + 0.5) / 1000000 AS epochs,
       (CAST(alloc_tokens AS DOUBLE) / source_tokens > 4.0) AS capped,
       least(alloc_tokens, CAST(source_tokens AS BIGINT) * 4)
           AS capped_tokens
FROM normed
ORDER BY source
"""

def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-entropy quality profile — the standard cheap
    gibberish/boilerplate detector in LLM curation stacks (low Shannon
    entropy over the character distribution ⇒ repeated filler or binary
    junk; natural prose sits ~4 bits/char).

    Per document H = log2(n) − (Σ c·log2 c)/n over case-folded character
    counts, then one per-source rollup.

    Plan — the per-doc histogram never leaves the row: one Arrow crossing
    of exactly (source, text) computes each document's case-folded
    character histogram (C-speed ``str.translate`` + ``Counter``) and
    folds Σ c·log2 c in sorted-character order. The ONLY exchange in the
    query is the final per-source aggregate (partial-agged to
    |sources|·P rows). History: the r5 rewrite moved this off the
    explode→groupBy(doc, char)→groupBy(doc) formulation, whose second
    corpus-keyed exchange grew with docs × partition-spread
    (tools/shuffle_probe.py, SCALE.md §7) — per-document state belongs in
    the document's row, not in a shuffle; the r10 rewrite moved the
    per-row fold off the sorted-run ``zip_with``/``aggregate`` Column
    pipeline, which is CodegenFallback (interpreted per character) and
    measured as ~the whole query (1.40 → 0.86 s at sf0.1). Σ accumulation
    order is the sorted-run order in both forms; drift vs the Column fold
    is ≤ 3.6e-15 with ≥ 7.6e-3 of margin to the nearest decision
    boundary (measured, all SFs — see the inline comment).

    Character semantics (r4 advice): the fold is ASCII-ONLY ``translate``,
    not ``lower()`` — engines disagree on Unicode special case mappings
    (Spark/Java full case mapping expands U+0130 'İ' to "i" + combining
    dot; DuckDB's simple fold gives "i"), which would silently break
    oracle parity on Turkish/Lithuanian text. Both engines split '' per
    code point (emoji/astral-plane safe — pinned by
    tests/test_char_semantics.py), so with an ASCII fold the per-character
    pipeline is engine-invariant; non-ASCII characters count case-
    sensitively as distinct code points, which an entropy profile is
    insensitive to in practice.
    """
    from ..sources.batch import spread_scan

    # the per-doc histogram work below is the query's entire cost and is
    # scan-fused; spread an under-partitioned (single-file) scan first
    # — no-op on production many-file layouts (guide §2.5)
    docs = spread_scan(load_table(spark, sf_dir, "documents")) \
        .select("source", "text")
    upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

    # r10 (guide §4.2): the r5 sorted-run Column pipeline (array_sort +
    # filter + sequence + zip_with + aggregate) is built entirely from
    # higher-order functions — CodegenFallback, interpreted per CHARACTER
    # of the corpus — and profiled as ~the whole 1.4 s of the query at
    # sf0.1. One Arrow crossing of (source, text) computes each doc's
    # histogram with C-speed str.translate + Counter and folds
    # Σ c·log₂c in SORTED-CHARACTER order — the same run order as the
    # Column fold (UTF-8 binary order ≡ code-point order), the same
    # left-to-right acc + x accumulation. math.log2 vs the JVM's
    # log(x)/log(2) differ at ≤1 ulp; measured per-doc drift ≤ 3.6e-15
    # against the Column fold at all three SFs, while the nearest
    # decision boundary (the h < 3.5 cut) sits ≥ 7.6e-3 away and the
    # tightest round(·,4) margin is ≥ 1.3e-8 in h units — 7-12 orders of
    # headroom, pinned with the final-row equality test
    # (tests/test_char_semantics.py). Plan is otherwise unchanged: the
    # only exchange is still the final per-source aggregate.
    def ent(batches):
        import math
        from collections import Counter

        import pyarrow as pa

        tbl = str.maketrans(upper, upper.lower())
        log2 = math.log2
        for batch in batches:
            srcs = batch.column(0)
            texts = batch.column(1).to_pylist()
            hs, keep = [], []
            for i, t in enumerate(texts):
                t = (t or "").translate(tbl)
                n = len(t)
                if n < 1:
                    continue
                counts = Counter(t)
                acc = 0.0
                for ch in sorted(counts):
                    c = counts[ch]
                    acc = acc + c * log2(c)
                hs.append(log2(n) - acc / n)
                keep.append(i)
            if not keep:
                continue
            yield pa.RecordBatch.from_arrays(
                [srcs.take(pa.array(keep)),
                 pa.array(hs, type=pa.float64())],
                names=["source", "h"])

    scored = docs.mapInArrow(ent, "source string, h double")
    return (
        scored.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("h"), 4).alias("avg_entropy"),
             F.round(F.min("h"), 4).alias("min_entropy"),
             F.round(F.max("h"), 4).alias("max_entropy"),
             F.sum(F.when(F.col("h") < 3.5, 1).otherwise(0))
             .cast("bigint").alias("low_entropy_docs"))
        .orderBy("source")
    )


ORACLE_CHAR_ENTROPY = """
WITH chars AS (
    SELECT doc_id, source,
           unnest(string_split(
               translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         'abcdefghijklmnopqrstuvwxyz'), '')) AS ch
    FROM documents
), counts AS (
    SELECT doc_id, source, ch, COUNT(*) AS c
    FROM chars WHERE ch <> '' GROUP BY 1, 2, 3
), per_doc AS (
    SELECT doc_id, source, SUM(c) AS n, SUM(c * log2(c)) AS s
    FROM counts GROUP BY 1, 2
), scored AS (
    SELECT source, log2(n) - s / n AS h FROM per_doc
)
SELECT source,
       COUNT(*) AS n_docs,
       round(AVG(h), 4) AS avg_entropy,
       round(MIN(h), 4) AS min_entropy,
       round(MAX(h), 4) AS max_entropy,
       CAST(SUM(CASE WHEN h < 3.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS low_entropy_docs
FROM scored
GROUP BY source
ORDER BY source
"""


_ZIPF_TOP = 500  # fit over the top ranks; the singleton tail bends the line


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf log-log slope — the vocabulary-health quality
    signal: natural text follows freq ∝ rank^s with s ≈ −1 (Zipf's law);
    machine-generated/boilerplate corpora flatten (s → 0 over-diverse
    spam) or steepen (template text repeating few types). Curation stacks
    use the fitted slope per source/shard as a cheap distributional
    anomaly detector next to entropy and repetition.

    Fit: ordinary least squares of ln(freq) on ln(rank) over the top
    {_ZIPF_TOP} ranks per source (ties broken by word for determinism),
    via the built-in REGR_SLOPE aggregate — identical accumulation in
    both engines, rounded to 4.

    Plan: one corpus exchange (word counts, partial-agged to
    |vocab|·P rows), one vocab-sized exchange for the per-source rank
    window, whose partitioning the final per-source aggregate reuses
    exchange-free. The regression itself is an aggregate — no collect, no
    fitting loop; null-pair skipping (CASE WHEN rank ≤ N) confines the
    fit to the head without a second pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(
        "source",
        F.explode(F.filter(F.split(F.lower("text"), "[^a-z]+"),
                           lambda t: t != "")).alias("w")))
    counts = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("cnt"))
    w_rank = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("w"))
    ranked = counts.withColumn("r", F.row_number().over(w_rank))
    in_head = F.col("r") <= _ZIPF_TOP
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_types"),
                 F.sum("cnt").cast("bigint").alias("n_tokens"),
                 F.round(F.regr_slope(
                     F.when(in_head, F.log("cnt")),
                     F.when(in_head, F.log("r"))), 4).alias("zipf_slope"))
            .orderBy("source"))


ORACLE_ZIPF_SLOPE = f"""
WITH words AS (
    SELECT source, unnest(list_filter(
        regexp_split_to_array(lower(text), '[^a-z]+'),
        t -> t <> '')) AS w
    FROM documents
), counts AS (
    SELECT source, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2
), ranked AS (
    SELECT source, w, cnt,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY cnt DESC, w ASC) AS r
    FROM counts
)
SELECT source,
       COUNT(*) AS n_types,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       round(regr_slope(CASE WHEN r <= {_ZIPF_TOP} THEN ln(cnt) END,
                        CASE WHEN r <= {_ZIPF_TOP} THEN ln(r) END), 4)
           AS zipf_slope
FROM ranked GROUP BY source
ORDER BY source
"""
