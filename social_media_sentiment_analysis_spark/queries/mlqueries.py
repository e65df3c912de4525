"""MLlib-path registry queries: IVF ANN, MinHashLSH near-dup join, and the
trainable sentiment classifier.

All three involve fitted models (KMeans centroids, LSH hash tables, LR
weights) that DuckDB cannot express, so they are registered rows-only; their
accuracy contracts (recall vs brute force, agreement vs the exact Jaccard
operator, fit quality vs the weak-label teacher) are asserted in
``tests/test_ml.py`` instead. Seeds are fixed so row counts are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.classifier import classify, fit_sentiment_classifier
from ..ml.ivf import assign_clusters, fit_ivf, ivf_topk
from ..ml.lsh import minhash_text_pairs
from ..sources.batch import load_table
from .sqlgen import sql_clean


_IVF_RECALL_FLOOR = 6        # of 10 — measured 7/9/8 at the three SFs


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with its contract carried into the oracle gate (upgraded
    from rows-only, the r6-verdict-#4 recipe applied to the ANN family):
    KMeans coarse quantizer, probe 4 of 8 cells nearest the query, exact
    cosine rerank within — the approximate path whose pruning is the
    whole point at scale. The gate pins:

    - ``exact_top10_ids``: the EXACT answer (the knn_bruteforce scoring,
      round(cosine,4) DESC then id), sorted — the DuckDB twin recomputes
      it value-for-value;
    - ``full_probe_equals_exact``: probing ALL cells must reproduce the
      exact top-k — a theorem about the IVF machinery (assignment +
      per-cell rerank + global k add no approximation; only pruning
      does), so any bug in the cell pipeline flips it;
    - ``recall_at_10_ok``: the pruned 4-of-8 probe finds ≥
      {_IVF_RECALL_FLOOR}/10 of the exact set (measured 7-9 on the
      fixture; the floor leaves seed/partitioning headroom).

    max_iter=8 on the quantizer: an IVF coarse quantizer needs rough
    Voronoi cells, not converged centroids — recall is governed by
    n_probe and the within-cell exact rerank (FAISS trains its coarse
    quantizers with ~10 iterations for the same reason).

    r9 (guide §2.6): the KMeans fit is ~45 serial driver-round jobs
    (k-means|| init + 8 iterations × 2 stages — the documented intrinsic
    cost of the iterative fit), and the EXACT brute-force arm does not
    depend on the model, so the two (plus the corpus count) run as
    concurrent jobs through ``run_concurrently``: the exact scoring pass
    back-fills cores the tiny fit rounds leave idle. ``full`` (10 rows after the limit) is also checkpointed
    so the action's two exceptAll directions read 10 materialized rows
    instead of re-running the all-cells scoring scan twice. Output
    value-identity pinned in-session (A==B rows); recall/full-probe
    booleans unchanged at all 3 SFs (oracle re-run)."""
    from ..operators import similarity as sim
    from ..session import run_concurrently

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    corpus = emb.filter(F.col("vec_id") != 0)

    def _fit_arm():
        model = fit_ivf(emb, "embedding", k=8, seed=7, max_iter=8)
        assigned = assign_clusters(corpus, "embedding", model) \
            .localCheckpoint()
        ann_ = ivf_topk(assigned, model, qvec, "embedding", "vec_id",
                        k=10, n_probe=4).localCheckpoint()
        full_ = ivf_topk(assigned, model, qvec, "embedding", "vec_id",
                         k=10, n_probe=8).localCheckpoint()
        return ann_, full_

    def _exact_arm():
        return sim.brute_force_topk(corpus, qvec, "embedding", "vec_id",
                                    k=10).localCheckpoint()

    def _count_arm():
        # n_corpus ran lazily inside the final action (r9 verdict #6);
        # materializing it here overlaps the count with the fit's serial
        # driver rounds instead of paying it after the arms join
        return corpus.agg(F.count(F.lit(1)).alias("n_corpus")) \
            .localCheckpoint()

    (ann, full), exact, n_corpus = run_concurrently(
        _fit_arm, _exact_arm, _count_arm)
    # comma-joined string, not an array column: array encodings differ
    # between the two engines' pandas bridges (numpy array vs list), which
    # breaks the driver's repr-based value hash — same serialization
    # convention as inverted_index's postings column
    exact_ids = exact.agg(
        F.array_join(F.sort_array(F.collect_list("vec_id")), ",")
        .alias("exact_top10_ids"))
    fp_mismatch = (full.select("vec_id")
                   .exceptAll(exact.select("vec_id"))
                   .unionAll(exact.select("vec_id")
                             .exceptAll(full.select("vec_id"))))
    fp_eq = fp_mismatch.agg(
        (F.count(F.lit(1)) == 0).alias("full_probe_equals_exact"))
    hits = (ann.join(exact.select("vec_id"), "vec_id", "left_semi")
            .agg((F.count(F.lit(1)) >= _IVF_RECALL_FLOOR)
                 .alias("recall_at_10_ok")))
    # 1-row theorem scalars: broadcast anchors (the dedup_simhash pattern)
    return (n_corpus.crossJoin(F.broadcast(exact_ids))
            .crossJoin(F.broadcast(fp_eq))
            .crossJoin(F.broadcast(hits)))


ORACLE_KNN_IVF = """
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
       TRUE AS full_probe_equals_exact,
       TRUE AS recall_at_10_ok
"""


_MLLIB_JACCARD = 0.5
_MLLIB_RECALL_FLOOR = 0.8   # measured 1.0 at all three SFs (vanilla session)


def q_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH approxSimilarityJoin near-dup pairs — the library twin
    of dedup_minhash (hand-rolled banding) — with its contract carried
    into the oracle gate (upgraded from rows-only, r7). The library path
    thresholds on the ESTIMATED Jaccard (8 signature hashes), so
    pair-by-pair parity with the exact answer is not a theorem; what IS:

    - ``n_exact_pairs``: the exhaustive exact-Jaccard-≥-0.5 pair count,
      computed in-Spark by an UNBLOCKED postings self-join (no LSH — the
      same referee construction as the dedup_minhash DuckDB twin) and
      recomputed independently by the twin;
    - ``all_text_dup_pairs_emitted``: identical cleaned_text implies
      identical shingle features implies identical signatures implies
      estimated distance 0 — those pairs can never be missed;
    - ``recall_vs_exact_ok``: the estimated threshold recalls ≥ 80% of
      the exact pair set (measured 100% at all three SFs; the floor
      leaves signature-estimation headroom);
    - ``pairs_canonical``: a_id < b_id, no duplicates.

    Same cleaned-text dialect as the hand path so the two referees agree.
    """
    from ..functions.text import clean_text, shingles

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", clean_text(F.col("text")).alias("cleaned_text"))
    emitted = minhash_text_pairs(
        docs, "cleaned_text", "doc_id",
        jaccard_threshold=_MLLIB_JACCARD,
        num_hash_tables=8).localCheckpoint()
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("cleaned_text"))))
        .alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shared = (sh.toDF("a_id", "s").join(sh.toDF("b_id", "s"), "s")
              .filter(F.col("a_id") < F.col("b_id"))
              .groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("inter")))
    exact = (shared.join(sizes.toDF("a_id", "na"), "a_id")
             .join(sizes.toDF("b_id", "nb"), "b_id")
             .withColumn("j", F.round(
                 F.col("inter")
                 / (F.col("na") + F.col("nb") - F.col("inter")), 4))
             .filter(F.col("j") >= _MLLIB_JACCARD)
             .select("a_id", "b_id").localCheckpoint())
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    ident = (docs.toDF("a_id", "t").join(docs.toDF("b_id", "t"), "t")
             .filter(F.col("a_id") < F.col("b_id")).select("a_id", "b_id"))
    all_ident = (ident.join(emitted, ["a_id", "b_id"], "left_anti")
                 .agg((F.count(F.lit(1)) == 0)
                      .alias("all_text_dup_pairs_emitted")))
    hits = emitted.join(exact, ["a_id", "b_id"], "left_semi") \
        .agg(F.count(F.lit(1)).alias("__hits"))
    recall = (hits.crossJoin(F.broadcast(n_exact.toDF("__n")))
              .select((F.col("__hits")
                       >= _MLLIB_RECALL_FLOOR * F.col("__n"))
                      .alias("recall_vs_exact_ok")))
    canonical = emitted.agg(
        (F.coalesce(F.every(F.col("a_id") < F.col("b_id")), F.lit(True))
         & (F.count(F.lit(1))
            == F.count_distinct(F.col("a_id"), F.col("b_id"))))
        .alias("pairs_canonical"))
    # 1-row theorem scalars: broadcast anchors (the dedup_simhash pattern)
    return (n_exact.crossJoin(F.broadcast(all_ident))
            .crossJoin(F.broadcast(recall))
            .crossJoin(F.broadcast(canonical)))


ORACLE_DEDUP_MINHASH_MLLIB = f"""
WITH docs AS (
    SELECT doc_id, {sql_clean('text')} AS cleaned_text FROM documents
), toked AS (
    SELECT doc_id, string_split(cleaned_text, ' ') AS toks FROM docs
), sets_ AS (
    SELECT doc_id,
           CASE WHEN len(toks) < 3
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct([
                    array_to_string(toks[i:i+2], ' ')
                    for i in range(1, len(toks) - 1)])
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
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS all_text_dup_pairs_emitted,
       TRUE AS recall_vs_exact_ok,
       TRUE AS pairs_canonical
FROM shared
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(inter / (sa.n + sb.n - inter), 4) >= 0.5
"""


_CLF_AGREEMENT_FLOOR = 0.9   # measured 0.976 / 0.990 / 0.999 (vanilla)


def q_classify_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train TF-IDF + logistic regression on lexicon weak labels and score
    the same corpus, with the student–teacher contract carried into the
    oracle gate (upgraded from rows-only, r7): the fitted weights have no
    SQL twin, but (1) scoring must be total — ``n_docs`` (SQL-exact) rows
    in, n_docs predictions out; (2) every prediction must be one of the
    three fixed labels; (3) the student must fit its own training signal —
    agreement with the deterministic lexicon teacher ≥ 90% (measured
    0.976–0.999 across the three SFs under the driver's vanilla session;
    the floor leaves LBFGS/partitioning headroom)."""
    from ..ml.classifier import LABELS, weak_labels

    docs = load_table(spark, sf_dir, "documents")
    model = fit_sentiment_classifier(docs, text_col="text",
                                     num_features=1 << 12)
    scored = classify(model, docs, text_col="text") \
        .select("doc_id", "predicted_sentiment")
    teacher = weak_labels(docs, text_col="text").select("doc_id", "label")
    label_arr = F.array(*[F.lit(x) for x in LABELS])
    joined = scored.join(teacher, "doc_id").withColumn(
        "__teacher", label_arr[F.col("label").cast("int")])
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.every(F.col("predicted_sentiment").isin(*LABELS))
        .alias("labels_valid"),
        (F.avg((F.col("predicted_sentiment") == F.col("__teacher"))
               .cast("double")) >= _CLF_AGREEMENT_FLOOR)
        .alias("teacher_agreement_ok"))


ORACLE_CLASSIFY_SENTIMENT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS labels_valid,
       TRUE AS teacher_agreement_ok
FROM documents
"""


_SEM_THRESHOLD = 0.4   # testdata max cosine ≈ 0.47: 0.4 makes the dup
                       # graph non-vacuous (920 exact pairs at sf0.1); a
                       # production run sets ~0.95+ on real embeddings
_SEM_RECALL_FLOOR = 0.25   # measured 0.48 / 0.56 / 0.36 (vanilla session)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (KMeans-cluster-pruned cosine
    near-dup groups, min-id keeper) with its contract carried into the
    oracle gate (upgraded from rows-only, r7). The fitted centroids have
    no SQL twin and the drop SET depends on cluster boundaries, so the
    gate pins the clustering-independent facts:

    - ``n_total`` and ``n_exact_droppable``: corpus size and the exact
      duplicate-graph non-root count (connected components over ALL pairs
      at rounded cosine ≥ 0.4, no blocking) — the DuckDB twin recomputes
      both, the droppable count via the recursive-CTE closure (the
      dedup_clusters referee);
    - ``drops_subset_of_exact``: every dropped vector genuinely has an
      exact near-dup — SemDeDup's within-cluster pairs exact-verify, so a
      drop outside the exact dup-vertex set means the verify broke;
    - ``drop_recall_ok``: cluster pruning still finds ≥ 25% of the exact
      droppable mass (measured 0.36–0.56 across SFs; boundary-straddling
      pairs are the recall loss, the SemDeDup paper's trade).

    The k=1 ≡ brute-force equivalence and cross-k recall stay pinned in
    tests/test_ml.py::TestSemDeDup."""
    from ..ml.semdedup import semantic_dedup
    from ..operators.dedup import embedding_near_duplicates
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    kept = semantic_dedup(emb, "embedding", "vec_id",
                          k=8, threshold=_SEM_THRESHOLD)
    dropped = emb.join(kept.select("vec_id"), "vec_id", "left_anti") \
        .select("vec_id").localCheckpoint()
    exact_pairs = embedding_near_duplicates(
        emb.withColumn("__b", F.lit(0)), "embedding", "vec_id",
        block_col="__b", threshold=_SEM_THRESHOLD)
    pcols = exact_pairs.columns
    comps = connected_components(exact_pairs.select(
        F.col(pcols[0]).alias("a_id"),
        F.col(pcols[1]).alias("b_id"))).localCheckpoint()
    n_total = emb.agg(F.count(F.lit(1)).alias("n_total"))
    droppable = comps.filter(F.col("node") != F.col("component")).agg(
        F.count(F.lit(1)).alias("n_exact_droppable"))
    verts = comps.select(F.col("node").alias("vec_id"))
    subset = (dropped.join(verts, "vec_id", "left_anti")
              .agg((F.count(F.lit(1)) == 0)
                   .alias("drops_subset_of_exact")))
    recall = (dropped.agg(F.count(F.lit(1)).alias("__d"))
              .crossJoin(F.broadcast(droppable.toDF("__n")))
              .select((F.col("__d") >= _SEM_RECALL_FLOOR * F.col("__n"))
                      .alias("drop_recall_ok")))
    # 1-row theorem scalars: broadcast anchors (the dedup_simhash pattern)
    return (n_total.crossJoin(F.broadcast(droppable))
            .crossJoin(F.broadcast(subset))
            .crossJoin(F.broadcast(recall)))


# Norms factored into a per-vector CTE: same IEEE values as the Spark
# cosine (dot / (norm_a · norm_b), each norm computed from its own vector),
# ~3x less list work than recomputing norms per pair — the all-pairs scan
# is the oracle's dominant cost at sf0.1.
ORACLE_DEDUP_SEMANTIC = f"""
WITH RECURSIVE normed AS (
    SELECT vec_id,
           list_transform(embedding, x -> x::DOUBLE) AS e,
           sqrt(list_sum(list_transform(embedding,
                x -> x::DOUBLE * x::DOUBLE))) AS nrm
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM normed a JOIN normed b ON a.vec_id < b.vec_id
    WHERE round(
        list_sum(list_transform(range(1, len(a.e) + 1),
                 i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm),
      4) >= {_SEM_THRESHOLD}
), edges AS (
    SELECT a_id AS u, b_id AS v FROM pairs
    UNION
    SELECT b_id, a_id FROM pairs
), reach(node, r) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.node
), labels AS (
    SELECT node, MIN(r) AS root FROM reach GROUP BY node
)
SELECT (SELECT COUNT(*) FROM embeddings) AS n_total,
       CAST((SELECT COUNT(*) FROM labels WHERE node <> root) AS BIGINT)
           AS n_exact_droppable,
       TRUE AS drops_subset_of_exact,
       TRUE AS drop_recall_ok
"""


_REC_K = 3
_REC_USERS = 5


def q_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS implicit-feedback recommendations (top-3 parts for the five
    lowest-numbered customers with purchase history) with the contract
    carried into the oracle gate (upgraded from rows-only, r7): the factor
    matrices have no SQL twin, but per served user the gate pins —

    - ``user``: the served user set is SQL-exact (the five lowest
      custkeys holding any purchase — the twin recomputes it);
    - ``n_recs``: exactly k recommendations come back per user;
    - ``ranks_contiguous``: rec_rank is 1..k with no gaps;
    - ``items_in_catalog``: every recommended part was interacted with by
      SOMEONE (ALS item factors only exist for observed items — a rec
      outside the catalog means the explode/join plumbing broke);
    - ``scores_nonincreasing``: the rank order matches the score order.

    Fit quality vs a popularity baseline stays pinned in
    tests/test_ml.py::TestALS."""
    from pyspark.sql import Window

    from ..ml.recommend import (
        fit_als, purchase_interactions, recommend_for_users,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    inter = purchase_interactions(lineitem, orders).cache()
    model = fit_als(inter)
    users = (inter.select("user").distinct().orderBy("user")
             .limit(_REC_USERS))
    out = recommend_for_users(model, users, k=_REC_K).localCheckpoint()
    catalog = inter.select("item").distinct() \
        .withColumn("__in_cat", F.lit(True))
    w = Window.partitionBy("user").orderBy("rec_rank")
    flagged = (out.join(catalog, "item", "left")
               .withColumn("__rn", F.row_number().over(w))
               .withColumn("__prev", F.lag("score").over(w)))
    res = (flagged.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.every(F.col("rec_rank") == F.col("__rn"))
        .alias("ranks_contiguous"),
        F.every(F.coalesce(F.col("__in_cat"), F.lit(False)))
        .alias("items_in_catalog"),
        F.every(F.col("__prev").isNull()
                | (F.col("score") <= F.col("__prev")))
        .alias("scores_nonincreasing"))
        .select(F.col("user").cast("long").alias("user"),
                F.col("n_recs").cast("long").alias("n_recs"),
                "ranks_contiguous", "items_in_catalog",
                "scores_nonincreasing")
        .orderBy("user"))
    inter.unpersist()
    return res


ORACLE_RECOMMEND_PARTS = f"""
WITH purchasers AS (
    SELECT DISTINCT o.o_custkey AS user
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), served AS (
    SELECT user FROM purchasers ORDER BY user LIMIT {_REC_USERS}
)
SELECT CAST(user AS BIGINT) AS user,
       CAST({_REC_K} AS BIGINT) AS n_recs,
       TRUE AS ranks_contiguous,
       TRUE AS items_in_catalog,
       TRUE AS scores_nonincreasing
FROM served
ORDER BY user
"""


# ---------------------------------------------------------------------------
# Negative sampling for recommender / contrastive training
# ---------------------------------------------------------------------------

_NEG_POPULAR = 50   # candidate pool: top-50 most-purchased parts
_NEG_K = 3          # negatives per user
_NEG_USERS = 20     # audit slice: lowest-numbered customers


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-weighted negative sampling — the training-pair generator
    for implicit-feedback recommenders (the ALS model here) and two-tower
    retrieval: for each user, k popular items the user did NOT buy.
    Sampling negatives from the POPULAR pool is the standard correction —
    uniform negatives are too easy and teach the model popularity, not
    preference.

    Determinism: candidate ranking is md5(user, item) — a pure function of
    the pair, so the 'random' draw is stable across runs/engines (same
    recipe as the deterministic samplers). Shape: purchases aggregate once
    (user, item); the candidate pool is a broadcast top-k; the user ×
    candidates expansion is |users| × 50 with the anti-join condition
    applied map-side against the user's own purchase set (collected as an
    array per user — bounded by the pool size after the semi filter).
    """
    from pyspark.sql import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    purchases = (
        lineitem.select("l_orderkey", F.col("l_partkey").alias("item"))
        .join(orders.select(F.col("o_orderkey").alias("l_orderkey"),
                            F.col("o_custkey").alias("user")),
              "l_orderkey")
        .select("user", "item").distinct()
    )
    pool = (purchases.groupBy("item")
            .agg(F.count(F.lit(1)).alias("buyers"))
            .orderBy(F.desc("buyers"), "item").limit(_NEG_POPULAR)
            .select("item"))
    users = (purchases.select("user").distinct()
             .orderBy("user").limit(_NEG_USERS))
    cand = users.crossJoin(F.broadcast(pool))
    negatives = cand.join(purchases, ["user", "item"], "left_anti")
    w = Window.partitionBy("user").orderBy(
        F.md5(F.concat_ws(",", F.col("user"), F.col("item"))), F.col("item"))
    return (
        negatives.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= _NEG_K)
        .select(F.col("user").cast("long").alias("user"), "neg_rank",
                F.col("item").cast("long").alias("item"))
        .orderBy("user", "neg_rank")
    )


ORACLE_NEGATIVE_SAMPLES = f"""
WITH purchases AS (
    SELECT DISTINCT o.o_custkey AS user, l.l_partkey AS item
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), pool AS (
    SELECT item FROM (
        SELECT item, COUNT(*) AS buyers FROM purchases GROUP BY item
    ) ORDER BY buyers DESC, item LIMIT {_NEG_POPULAR}
), users AS (
    SELECT DISTINCT user FROM purchases ORDER BY user LIMIT {_NEG_USERS}
), cand AS (
    SELECT u.user, p.item FROM users u CROSS JOIN pool p
), negatives AS (
    SELECT c.user, c.item FROM cand c
    ANTI JOIN purchases pu ON c.user = pu.user AND c.item = pu.item
), ranked AS (
    SELECT user, item,
           ROW_NUMBER() OVER (
               PARTITION BY user
               ORDER BY md5(user || ',' || item), item) AS neg_rank
    FROM negatives
)
SELECT CAST(user AS BIGINT) AS user, neg_rank,
       CAST(item AS BIGINT) AS item
FROM ranked WHERE neg_rank <= {_NEG_K}
ORDER BY user, neg_rank
"""


# ---------------------------------------------------------------------------
# Word2Vec distributional embeddings
# ---------------------------------------------------------------------------

_W2V_K = 5


def q_word_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit skip-gram Word2Vec on the documents corpus and probe the top-5
    nearest-vocabulary neighbors of the corpus's most frequent word, with
    the probe's contract carried into the oracle gate (upgraded from
    rows-only, r7): the learned weights have no SQL twin, but —

    - ``query_word``: the probe word is SQL-exact (the corpus's most
      frequent token under the same tokenization, count-then-word
      tiebreak — the DuckDB twin recomputes it);
    - ``n_neighbors``: findSynonyms returns exactly k;
    - ``excludes_query``: a word is never its own synonym;
    - ``sims_in_range``: every reported cosine is within [-1, 1].

    Neighborhood quality stays pinned in tests/test_ml.py::TestWord2Vec.
    """
    from ..ml.word2vec import fit_word2vec, similar_words, tokenized

    docs = load_table(spark, sf_dir, "documents")
    top_word = (
        tokenized(docs).select(F.explode("__tokens").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w").limit(1).first()["w"])
    model = fit_word2vec(docs, min_count=5, dim=32)
    syn = similar_words(model, top_word, k=_W2V_K)
    return syn.agg(
        F.first("query").alias("query_word"),
        F.count(F.lit(1)).alias("n_neighbors"),
        F.every(F.col("word") != F.lit(top_word)).alias("excludes_query"),
        F.every(F.abs(F.col("similarity")) <= 1.000001)
        .alias("sims_in_range"))


ORACLE_WORD_EMBEDDINGS = f"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
    FROM documents
), top AS (
    SELECT w FROM toks WHERE w <> ''
    GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 1
)
SELECT w AS query_word,
       CAST({_W2V_K} AS BIGINT) AS n_neighbors,
       TRUE AS excludes_query,
       TRUE AS sims_in_range
FROM top
"""


_PQ_SHORTLIST = 50
_PQ_RECALL_FLOOR = 5   # of 10 — measured 9/8/7 at the three SFs (vanilla)


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with the production FAISS shape — ADC
    shortlist then exact rerank — and its contract carried into the
    oracle gate (upgraded from rows-only, r7, the knn_ivf recipe): m=16
    per-subspace codebooks compress each embedding to 16 codes; the
    query's asymmetric-distance tables (broadcast array literals, Column
    fold) score one scan for a 50-row shortlist; exact squared-L2 reranks
    the shortlist to the final top-10. The gate pins:

    - ``exact_top10_ids``: the exact squared-L2 top-10 (round(d,4) ASC
      then id; comma-joined string — the cross-engine list convention),
      recomputed value-for-value by the DuckDB twin;
    - ``codes_valid``: every code vector has exactly m entries in
      [0, k) — the encode contract;
    - ``recall_at_10_ok``: the ADC shortlist catches ≥ 5 of the exact
      top-10 after rerank (measured 7-9 across the three SFs under the
      driver's vanilla session; raw ADC@10 alone measures 1-3 — the
      rerank IS the operator, exactly as FAISS composes IVFADC+refine).

    Determinism/compression invariants stay pinned in
    tests/test_ml.py::TestPQ."""
    from ..ml.pq import encode_pq, fit_pq, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = [float(x)
             for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    model = fit_pq(emb, "embedding", m=16, k=16, seed=7)
    encoded = encode_pq(corpus, "embedding", model).localCheckpoint()
    shortlist = pq_topk(encoded, model, query, "vec_id", k=_PQ_SHORTLIST)
    qlit = F.array(*[F.lit(float(x)) for x in query])
    l2 = F.aggregate(
        F.zip_with("embedding", qlit,
                   lambda a, b: (a.cast("double") - b)
                   * (a.cast("double") - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    exact = (corpus.select("vec_id", F.round(l2, 4).alias("__d"))
             .orderBy("__d", "vec_id").limit(10).localCheckpoint())
    reranked = (corpus.join(shortlist.select("vec_id"), "vec_id",
                            "left_semi")
                .select("vec_id", F.round(l2, 4).alias("__d"))
                .orderBy("__d", "vec_id").limit(10))
    n_corpus = corpus.agg(F.count(F.lit(1)).alias("n_corpus"))
    exact_ids = exact.agg(
        F.array_join(F.sort_array(F.collect_list("vec_id")), ",")
        .alias("exact_top10_ids"))
    codes_ok = encoded.agg(
        F.every((F.size("pq_codes") == model.m)
                & F.forall("pq_codes",
                           lambda c: (c >= 0) & (c < model.k)))
        .alias("codes_valid"))
    hits = (reranked.join(exact.select("vec_id"), "vec_id", "left_semi")
            .agg((F.count(F.lit(1)) >= _PQ_RECALL_FLOOR)
                 .alias("recall_at_10_ok")))
    # 1-row theorem scalars: broadcast anchors (the dedup_simhash pattern)
    return (n_corpus.crossJoin(F.broadcast(exact_ids))
            .crossJoin(F.broadcast(codes_ok))
            .crossJoin(F.broadcast(hits)))


ORACLE_KNN_PQ = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT vec_id,
           round(list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> (embedding[i]::DOUBLE - qv[i]::DOUBLE)
                      * (embedding[i]::DOUBLE - qv[i]::DOUBLE))),
           4) AS d
    FROM embeddings, q
    WHERE vec_id <> 0
), topk AS (
    SELECT vec_id FROM scored ORDER BY d ASC, vec_id ASC LIMIT 10
)
SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id <> 0) AS n_corpus,
       (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM topk)
           AS exact_top10_ids,
       TRUE AS codes_valid,
       TRUE AS recall_at_10_ok
"""
