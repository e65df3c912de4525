"""Skew-mitigation and sketch tests: salted join equivalence under a hot
key, two-stage distinct-count parity, and sketch accuracy vs exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from social_media_sentiment_analysis_spark.operators.skew import (
    salted_join,
    two_stage_distinct_count,
)
from social_media_sentiment_analysis_spark.queries.llmdata import q_sketch_profile
from social_media_sentiment_analysis_spark.sources.batch import load_table


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share key 1 — the classic hot-key shape
    rows = [(i, 1 if i % 10 else 2, float(i)) for i in range(2000)]
    return spark.createDataFrame(rows, "row_id long, k long, v double")


@pytest.fixture(scope="module")
def dim(spark):
    return spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (3, "unmatched")], "k long, label string")


def test_salted_join_matches_plain_join(spark, skewed, dim):
    plain = skewed.join(dim, "k").select("row_id", "label")
    salted = salted_join(skewed, dim, on="k", salt_from="row_id") \
        .select("row_id", "label")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_spreads_hot_key(spark, skewed, dim):
    salted_big = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(16)))
    buckets = (
        salted_big.filter(F.col("k") == 1)
        .groupBy("__salt").count().collect()
    )
    assert len(buckets) == 16                      # hot key uses every bucket
    counts = [r["count"] for r in buckets]
    assert max(counts) < 2 * min(counts)           # roughly even spread


def test_two_stage_distinct_count_parity(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    got = {r.event_type: r.distinct_user_id
           for r in two_stage_distinct_count(events, "event_type", "user_id").collect()}
    exact = {r.event_type: r.d for r in events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("d")).collect()}
    assert got == exact


def test_sketch_profile_accuracy(spark, sf_dir):
    # the query now computes its own accuracy contract (r7: oracle-gated
    # theorem booleans); this test pins the exact leg and the booleans
    events = load_table(spark, sf_dir, "events")
    approx = {r.event_type: r for r in q_sketch_profile(spark, sf_dir).collect()}
    exact_users = {r.event_type: r.users for r in events.groupBy("event_type")
                   .agg(F.countDistinct("user_id").alias("users")).collect()}
    assert set(approx) == set(exact_users)
    for et, a in approx.items():
        assert a.exact_users == exact_users[et]
        assert a.hll_within_3rsd is True
        assert a.p50_rank_ok is True
        assert a.p95_rank_ok is True
        assert a.p99_rank_ok is True


class TestCountMin:
    """Count-min sketch contracts: overestimate-only, bounded error,
    mergeability."""

    def test_estimate_bounds(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.operators.cms import (
            cms_build, cms_estimate,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        words = docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
        ).filter(F.col("w") != "")
        exact = {r.w: r.c for r in
                 words.groupBy("w").agg(F.count("*").alias("c")).collect()}
        n_total = sum(exact.values())
        depth, width = 4, 1024
        sketch = cms_build(words, "w", depth=depth, width=width)
        cells = sketch.collect()
        assert len(cells) <= depth * width
        est = {r.w: r.est_count for r in
               cms_estimate(sketch, words, "w",
                            depth=depth, width=width).collect()}
        eps_n = (2.718 / width) * n_total
        for w, true_c in exact.items():
            assert est[w] >= true_c, f"{w}: underestimate"
            assert est[w] - true_c <= eps_n, f"{w}: error beyond eps*N"

    def test_merge_equals_single_build(self, spark, sf_dir):
        """Sketch(A ∪ B) == merge(Sketch(A), Sketch(B)) cell-for-cell."""
        from social_media_sentiment_analysis_spark.operators.cms import (
            cms_build, cms_merge,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        words = docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
            "doc_id",
        ).filter(F.col("w") != "")
        a = words.filter(F.col("doc_id") % 2 == 0)
        b = words.filter(F.col("doc_id") % 2 == 1)
        merged = {(r.row, r.bucket): r.cnt for r in
                  cms_merge(cms_build(a, "w"), cms_build(b, "w")).collect()}
        single = {(r.row, r.bucket): r.cnt for r in
                  cms_build(words, "w").collect()}
        assert merged == single


def test_aqe_skew_join_split_fires(spark):
    """AQE skew-join splitting is load-bearing in SCALE.md §3 — prove it
    actually fires: a sort-merge join with one hot key, thresholds tuned so
    the hot partition qualifies, must show a skew=true shuffle read in the
    final adaptive plan (and still produce exact results)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 40000).select(
            (F.when(F.col("id") % 10 != 0, F.lit(1)).otherwise(F.col("id")))
            .alias("k"),
            F.col("id").alias("row_id"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"))
        right = spark.range(0, 50000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim-"), F.col("id")).alias("label"))
        joined = left.join(right, "k")
        # collect() executes THIS QueryExecution, so the adaptive plan we
        # inspect afterwards is the finalized one (count() would build a
        # separate execution and leave this plan unfinalized)
        rows = joined.collect()
        assert len(rows) == 40000  # every left row matches one right row
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
