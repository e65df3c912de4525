"""Similarity search: brute-force exactness, ANN recall, pairwise top-k."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from social_media_sentiment_analysis_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
)
from social_media_sentiment_analysis_spark.operators import similarity as sim
from social_media_sentiment_analysis_spark.queries.llmdata import (
    q_knn_ann,
    q_knn_bruteforce,
)
from social_media_sentiment_analysis_spark.sources.batch import load_table


class TestVectorMath:
    def test_dot_and_norm(self, spark):
        df = spark.createDataFrame(
            [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a: array<float>, b: array<float>")
        row = df.select(
            dot(F.col("a"), F.col("b")).alias("d"),
            l2_norm(F.col("a")).alias("n"),
            cosine_similarity(F.col("a"), F.col("b")).alias("c"),
        ).first()
        assert row["d"] == pytest.approx(32.0)
        assert row["n"] == pytest.approx(math.sqrt(14.0))
        assert row["c"] == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))

    def test_orthogonal_is_zero(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [0.0, 1.0])], "a: array<float>, b: array<float>")
        assert df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")
                         ).first()["c"] == pytest.approx(0.0)


class TestBruteForce:
    def test_exact_self_similarity(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 1.0]), (2, [1.0, 0.9]), (3, [-1.0, -1.0])],
            "id: long, vec: array<float>")
        out = sim.brute_force_topk(df, [1.0, 1.0], "vec", "id", k=2).collect()
        assert [r["id"] for r in out] == [1, 2]
        assert out[0]["cosine"] == pytest.approx(1.0)

    def test_corpus_topk_is_sorted(self, spark, sf_dir):
        rows = q_knn_bruteforce(spark, sf_dir).collect()
        assert len(rows) == 10
        sims = [r["cosine"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] != 0 for r in rows)


class TestANN:
    def test_recall_vs_bruteforce(self, spark, sf_dir):
        """Bucketed ANN with 2-bit probing must recover most of the exact
        top-10 (random-hyperplane LSH recall on 64-dim data) — asserted on
        the operator directly; the registry entry now gates the same fact
        through its contract oracle."""
        from social_media_sentiment_analysis_spark.operators.similarity import (
            ann_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        qvec = list(emb.filter(F.col("vec_id") == 0)
                    .first()["embedding"])
        corpus = emb.filter(F.col("vec_id") != 0)
        exact = [r["vec_id"]
                 for r in q_knn_bruteforce(spark, sf_dir).collect()]
        approx = [r["vec_id"]
                  for r in ann_topk(corpus, qvec, "embedding", "vec_id",
                                    k=10, bits=6, probe_hamming=2).collect()]
        overlap = len(set(exact) & set(approx))
        assert overlap >= 5, f"ANN recall too low: {overlap}/10 ({approx} vs {exact})"
        # and the registry contract row itself holds
        row = q_knn_ann(spark, sf_dir).first()
        assert row.ann_within_exact_bound and row.recall_at_10_ok

    def test_bucket_determinism(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings").limit(20)
        b1 = emb.select(sim.hyperplane_bucket(F.col("embedding"), 64).alias("b")).collect()
        b2 = emb.select(sim.hyperplane_bucket(F.col("embedding"), 64).alias("b")).collect()
        assert [r["b"] for r in b1] == [r["b"] for r in b2]

    def test_bucket_range(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        row = emb.select(
            F.min(sim.hyperplane_bucket(F.col("embedding"), 64, bits=8)).alias("lo"),
            F.max(sim.hyperplane_bucket(F.col("embedding"), 64, bits=8)).alias("hi"),
        ).first()
        assert 0 <= row["lo"] and row["hi"] <= 255


class TestPairwiseTopK:
    def test_each_query_gets_ranked_neighbors(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings").limit(100)
        out = sim.pairwise_topk_join(emb, emb, "embedding", "vec_id", "vec_id", k=3)
        pdf = out.toPandas()
        assert (pdf.groupby("query_id")["rank"].max() <= 3).all()
        assert (pdf["query_id"] != pdf["neighbor_id"]).all()
        # ranks within a query are strictly increasing with falling cosine
        for _, grp in pdf.groupby("query_id"):
            g = grp.sort_values("rank")
            assert list(g["cosine"]) == sorted(g["cosine"], reverse=True)


class TestKnnJoin:
    def test_ann_join_agrees_with_exact(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.queries.registry import (
            QUERIES,
        )
        from pyspark.sql import functions as SF

        from social_media_sentiment_analysis_spark.operators import (
            similarity as sim,
        )

        exact = QUERIES["knn_join"].builder(spark, sf_dir).collect()
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        approx = sim.pairwise_topk_join(
            emb.filter(SF.col("vec_id") < 5),
            emb.filter(SF.col("vec_id") >= 5),
            "embedding", "vec_id", "vec_id", k=3).collect()
        exact_pairs = {(r.query_id, r.vec_id) for r in exact}
        approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
        assert len(exact_pairs) == 15  # 5 queries × top-3
        # single-bucket LSH probe: expect meaningful overlap, not identity
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        assert recall >= 0.3, f"recall {recall}"
        # every approx neighbor must at least share the query's bucket space
        assert all(q in {p[0] for p in exact_pairs} for q, _ in approx_pairs)


class TestHashedEmbedding:
    def test_deterministic_unit_norm_and_separation(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from social_media_sentiment_analysis_spark.functions.text import (
            clean_text,
            tokens,
        )
        from social_media_sentiment_analysis_spark.functions.vectors import (
            cosine_similarity,
            hashed_embedding,
        )
        from social_media_sentiment_analysis_spark.queries.llmdata import (
            _jaccard_pairs,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        toked = load_table(spark, sf_dir, "documents").select(
            "doc_id", tokens(clean_text(F.col("text"))).alias("toks"))
        emb = toked.select(
            "doc_id", hashed_embedding(F.col("toks"), 16).alias("emb"))
        rows = {r.doc_id: r.emb for r in emb.collect()}
        rows2 = {r.doc_id: r.emb for r in emb.collect()}
        assert rows == rows2                      # deterministic
        for v in list(rows.values())[:20]:
            assert abs(sum(x * x for x in v) - 1.0) < 1e-9   # unit norm

        # text near-dups must embed closer than random pairs
        pairs = _jaccard_pairs(spark, sf_dir).collect()
        assert pairs
        a = emb.toDF("a_id", "a_emb")
        b = emb.toDF("b_id", "b_emb")
        pair_df = (_jaccard_pairs(spark, sf_dir)
                   .join(a, "a_id").join(b, "b_id")
                   .select(cosine_similarity(
                       F.col("a_emb"), F.col("b_emb")).alias("cos")))
        dup_cos = [r.cos for r in pair_df.collect()]
        ids = sorted(rows)
        rand_cos = []
        for i in range(0, 40, 2):
            va, vb = rows[ids[i]], rows[ids[i + 37 % len(ids)]]
            rand_cos.append(sum(x * y for x, y in zip(va, vb)))
        assert min(dup_cos) > sum(rand_cos) / len(rand_cos)


class TestMultibandLSH:
    """OR-of-bands hyperplane LSH (operators/similarity.py::
    multiband_lsh_pairs): exact precision by construction, recall at the
    banding-formula level, determinism, and the no-label contract."""

    def test_recall_and_exact_precision_vs_exhaustive(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from social_media_sentiment_analysis_spark.operators.dedup import (
            embedding_near_duplicates,
        )
        from social_media_sentiment_analysis_spark.operators.similarity import (
            multiband_lsh_pairs,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        found = {(r.a_id, r.b_id): r.cosine for r in
                 multiband_lsh_pairs(emb, "embedding", "vec_id", dim=64,
                                     bands=8, band_bits=2,
                                     threshold=0.35).collect()}
        exact = {(r.a_id, r.b_id): r.cosine for r in
                 embedding_near_duplicates(
                     emb, "embedding", "vec_id", block_col=None,
                     threshold=-1.0, allow_full_cartesian=True)
                 .withColumn("cosine", F.round("cosine", 4))
                 .filter(F.col("cosine") >= 0.35).collect()}
        # precision is EXACT: every found pair is a true pair with the
        # identical verified cosine
        assert set(found) <= set(exact)
        assert all(found[p] == exact[p] for p in found)
        # recall clears the measured-vanilla floor (0.9651/0.9853/0.9819
        # at sf0.001/0.01/0.1; banding formula predicts 0.93-0.99 at
        # this corpus's cosine range; deterministic md5 planes)
        recall = len(found) / len(exact)
        assert recall >= 0.90, (len(found), len(exact), recall)

    def test_arrow_projection_matches_fold_buckets(self, spark, sf_dir):
        """The mapInArrow matmul projection (banded_projection) emits
        bucket ids IDENTICAL to the interpreted hyperplane_bucket fold
        for every (id, band) — the sign margins (≥1e-4) dwarf the
        pairwise-vs-sequential float64 summation difference (≲1e-13),
        so the `> 0` test cannot diverge. This is the r9 optimization's
        equivalence pin."""
        from social_media_sentiment_analysis_spark.operators.similarity import (
            banded_projection,
            hyperplane_bucket,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        bands, band_bits = 8, 2
        arrow = {(r.vec_id, r.band): r.val for r in
                 banded_projection(emb, "embedding", "vec_id", dim=64,
                                   bands=bands, band_bits=band_bits
                                   ).collect()}
        fold = {}
        for j in range(bands):
            for r in emb.select(
                    "vec_id",
                    hyperplane_bucket(F.col("embedding"), 64, band_bits,
                                      plane_offset=j * band_bits)
                    .alias("val")).collect():
                fold[(r.vec_id, j)] = r.val
        assert arrow == fold

    def test_pair_cosine_lookup_matches_fold_bitwise(self, spark, sf_dir):
        """The r10 verify rework's equivalence pin: pair_cosine_lookup's
        broadcast-matrix kernel emits RAW cosine doubles bit-identical to
        the join-attach Column fold for EVERY candidate pair — the kernel
        replays the fold's IEEE op order (cast→multiply in double, strict
        left-to-right accumulation from 0.0, same norm algebra), so this
        is exact equality, not tolerance. The forced fallback (max_rows=0)
        IS the fold, pinned equal too."""
        from pyspark.sql import functions as F

        from social_media_sentiment_analysis_spark.functions.vectors import (
            dot,
            l2_norm,
            pair_cosine_lookup,
        )
        from social_media_sentiment_analysis_spark.operators.similarity import (
            banded_projection,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        banded = banded_projection(emb, "embedding", "vec_id", 64, 8, 2)
        cand = (banded.toDF("a_id", "band", "val")
                .join(banded.toDF("b_id", "band2", "val2"),
                      (F.col("band") == F.col("band2"))
                      & (F.col("val") == F.col("val2"))
                      & (F.col("a_id") < F.col("b_id")))
                .select("a_id", "b_id").distinct())
        base = emb.select("vec_id", "embedding",
                          l2_norm(F.col("embedding")).alias("__nrm"))
        a = base.toDF("a_id", "a_vec", "a___nrm")
        b = base.toDF("b_id", "b_vec", "b___nrm")
        fold = {(r.a_id, r.b_id): r.c for r in
                cand.join(a, "a_id").join(b, "b_id")
                .select("a_id", "b_id",
                        (dot(F.col("a_vec"), F.col("b_vec"))
                         / (F.col("a___nrm") * F.col("b___nrm"))).alias("c"))
                .collect()}
        lookup = {(r.a_id, r.b_id): r.cosine for r in
                  pair_cosine_lookup(cand, emb, "vec_id", "embedding",
                                     "a_id", "b_id").collect()}
        assert lookup == fold      # exact double equality, every pair
        fallback = {(r.a_id, r.b_id): r.cosine for r in
                    pair_cosine_lookup(cand, emb, "vec_id", "embedding",
                                       "a_id", "b_id",
                                       max_rows=0).collect()}
        assert fallback == fold

    @pytest.mark.parametrize("pairs", [[(1, 2)], [(1, 9)],
                                       [(1, 3), (1, 2), (9, 5), (3, 5)]])
    def test_pair_cosine_lookup_drops_foreign_ids_like_fallback(
            self, spark, pairs):
        """A pair id with no row in the vector table: the broadcast kernel
        must drop the pair, as the fallback's inner joins do — not read a
        neighbour's vector (id 2 sits between 1 and 3) or index past the
        end of the table (id 9 is above every table id)."""
        from social_media_sentiment_analysis_spark.functions.vectors import (
            pair_cosine_lookup,
        )

        vecs = spark.createDataFrame(
            [(1, [1.0, 0.0]), (3, [0.6, 0.8]), (5, [0.0, 1.0])],
            "id long, v array<float>")
        cand = spark.createDataFrame(pairs, "a long, b long")

        def run(**kw):
            return sorted(tuple(r) for r in pair_cosine_lookup(
                cand, vecs, "id", "v", "a", "b", **kw).collect())

        fallback = run(max_rows=0)
        assert run() == fallback
        assert {(a, b) for a, b, _ in fallback} == \
            {(a, b) for a, b in pairs if {a, b} <= {1, 3, 5}}

    def test_deterministic_and_band_count_dials_recall(self, spark, sf_dir):
        """Same inputs → identical output; and recall is monotone in the
        band count (the OR construction can only add candidates)."""
        from social_media_sentiment_analysis_spark.operators.similarity import (
            multiband_lsh_pairs,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")

        def run(bands):
            return {(r.a_id, r.b_id) for r in
                    multiband_lsh_pairs(emb, "embedding", "vec_id", dim=64,
                                        bands=bands, band_bits=2,
                                        threshold=0.35).collect()}

        one = run(8)
        assert one == run(8)
        assert run(2) <= run(4) <= one
