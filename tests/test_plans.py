"""Plan-quality contract tests: assert the physical plans we designed for,
so a correctness-green regression (lost broadcast, lost pushdown, full sort
instead of top-k, extra shuffle) fails loudly instead of becoming a 100 TB
bottleneck. See plans/inspect.py."""

from __future__ import annotations

import pytest

from social_media_sentiment_analysis_spark.plans.inspect import (
    exchange_count,
    has_broadcast_join,
    has_sort_merge_join,
    is_top_k,
    physical_plan,
    pushed_filters,
    scan_schemas,
)
from social_media_sentiment_analysis_spark.queries.registry import QUERIES


def q(name, spark, sf_dir):
    return QUERIES[name].builder(spark, sf_dir)


@pytest.fixture(scope="module")
def registry_frames(spark, sf_dir):
    """Every registry query, built once for the four registry-wide plan
    walks (a build runs the query's eager drains and checkpoints). Each
    frame is planned as soon as it is built, as the walks always did;
    the QueryExecution keeps that plan for every later walk."""
    frames = {}
    for name, query in QUERIES.items():
        frames[name] = query.builder(spark, sf_dir)
        physical_plan(frames[name])
    return frames


def test_star_joins_broadcast_small_dims(spark, sf_dir):
    for name in ("author_enrichment", "revenue_by_region", "top_customers",
                 "inactive_customers", "active_customer_segments"):
        df = q(name, spark, sf_dir)
        assert has_broadcast_join(df), name
        assert not has_sort_merge_join(df), name


def test_topk_plans_as_take_ordered(spark, sf_dir):
    for name in ("recent_tweets", "recent_negative", "top_customers",
                 "knn_bruteforce"):
        assert is_top_k(q(name, spark, sf_dir)), name


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    filters = pushed_filters(q("pricing_summary", spark, sf_dir))
    assert any("l_shipdate" in f for f in filters)


def test_scans_prune_columns(spark, sf_dir):
    # sentiment_summary needs only doc_id+text of documents' 5 columns
    schemas = scan_schemas(q("sentiment_summary", spark, sf_dir))
    assert schemas and all(
        "doc_id" in s and "text" in s and "source" not in s and "lang" not in s
        for s in schemas)
    # pricing_summary reads 7 of lineitem's 16 columns
    ps = scan_schemas(q("pricing_summary", spark, sf_dir))
    assert ps and "l_orderkey" not in ps[0] and "l_comment" not in ps[0]


def test_single_shuffle_operators(spark, sf_dir):
    # agg-only queries: one shuffle for the agg (+1 range for global sort)
    assert exchange_count(q("sentiment_summary", spark, sf_dir)) <= 2
    assert exchange_count(q("dedup_exact", spark, sf_dir)) <= 2
    assert exchange_count(q("stratified_sample", spark, sf_dir)) <= 2
    # enrichment and per-row analytics are pure projections: zero shuffles
    assert exchange_count(q("sentiment_enrich", spark, sf_dir)) == 0
    assert exchange_count(q("text_stats", spark, sf_dir)) == 0
    assert exchange_count(q("fingerprints", spark, sf_dir)) == 0
    # chunking explodes in place: map-side only
    assert exchange_count(q("chunk_documents", spark, sf_dir)) == 0


def test_curation_funnel_prunes_and_single_exchange(spark, sf_dir):
    # both agg passes must prune documents to (doc_id,) text, lang; the only
    # exchange is the fingerprint groupBy (stage counts partial-agg to 1 row)
    df = q("curation_funnel", spark, sf_dir)
    schemas = scan_schemas(df)
    assert schemas and all(
        "text" in s and "lang" in s and "source" not in s for s in schemas)
    assert exchange_count(df) <= 1


def test_no_cartesian_anywhere(registry_frames):
    for name, df in registry_frames.items():
        plan = physical_plan(df)
        if name == "recommend_parts":
            # MLlib recommendForUserSubset scores via a deliberate
            # block-cross of the (tiny) user × item factor matrices —
            # bounded by rank × blocks, not a plan regression
            continue
        assert "CartesianProduct" not in plan, name
        # BroadcastNestedLoopJoin is acceptable only for the tiny
        # broadcast-anchor pattern (a 1-row max-ts scalar joined to the
        # scan) and knn_join's deliberate broadcast of the k-row query set
        if "BroadcastNestedLoopJoin" in plan:
            assert name in ("trailing_window", "export",
                            "curation_funnel", "knn_join",
                            "gapfill_hourly", "tfidf_keywords",
                            "decayed_engagement",
                            # 1-row broadcast scalar anchors
                            "wealthy_inactive_customers",
                            "weighted_sample",
                            "unigram_logprob",
                            "hybrid_search",  # 1-row query-vector anchor
                            "rfm_segments",   # 1-row recency anchor
                            "heavy_hitters",  # 1-row eps*N total anchor
                            # same 1-row eps*N anchor, streamed CMS twin
                            "streaming_heavy_hitters",
                            # 1-row theorem-boolean scalars crossjoined
                            # into the single invariant row (r7 oracles)
                            "dedup_simhash",
                            "knn_ivf",
                            "media_video_neardup",
                            "media_audio_neardup",
                            "knn_pq",
                            "knn_ann",
                            "dedup_minhash_mllib",
                            "dedup_semantic",
                            "bpe_tokenize",
                            # broadcast 5-row query set, same as knn_join
                            "knn_join_ann",
                            # 1-row bloom-bitmap anchor (map-side probe)
                            "bloom_decontamination",
                            "feature_drift",  # 1-row min/max anchors
                            "important_stock",  # 1-row grand-total anchor
                            "dsir_select",      # 64-row log-ratio model
                            "ccnet_buckets",    # 1-row tertile thresholds
                            # deliberate bounded expansion: 20 users ×
                            # broadcast 50-item candidate pool
                            "negative_samples",
                            "pmi_collocations",
                            "equidepth_histogram",
                            "bm25_search",
                            "supplier_triangles",
                            # MLlib recommendForUserSubset internal plan
                            "recommend_parts"), name


# Queries allowed to keep a partition-less Window/WindowGroupLimit because
# its input is BOUNDED (does not grow with the corpus) or bounded by a
# rank-filter pushdown. Everything else in the registry must be clean —
# an unbounded single-task window is the canonical 100 TB scale killer.
_GLOBAL_WINDOW_BOUNDED = {
    # share-of-total / lag over low-cardinality rollups (per-day, per-type,
    # per-source, per-region, 3-row split table, #sources mixture table)
    "type_share", "source_mix", "dataset_split", "regional_revenue_share",
    "mixture_weights", "moving_average", "daily_value_delta",
    "cumulative_unique_users",
    # rank<=k filters: Spark pushes WindowGroupLimit below the exchange,
    # so the single-partition side sees at most k rows per input partition
    "zipf_exponent", "hybrid_search",
    # distributed-ranking offsets table: P rows (one per shuffle partition)
    "customer_spend_quartiles", "rfm_segments", "vocab_growth",
    "training_order",
    # presentation rank over the k-row reservoir store (k=100 regardless
    # of corpus size — the sink's state bound IS the window's input bound)
    "streaming_reservoir_sample",
}


def test_no_unbounded_partitionless_window_anywhere(registry_frames):
    """Registry-wide scale invariant (round-3 verdict item): no query may
    plan a partition-less window over an input that grows with the corpus.
    The allowlist above enumerates the justified-bounded cases; a NEW name
    appearing here means a new single-task window snuck in — fix the query
    (operators/ranking.py has the distributed rank/ntile/prefix-sum
    replacements) or justify it in the allowlist."""
    from social_media_sentiment_analysis_spark.plans.inspect import (
        partitionless_windows,
    )

    offenders = {}
    for name, df in registry_frames.items():
        got = partitionless_windows(df)
        if got and name not in _GLOBAL_WINDOW_BOUNDED:
            offenders[name] = got
    assert not offenders, offenders


def test_knn_join_broadcasts_query_set(spark, sf_dir):
    # deliberate cross join: the k-row query set broadcasts, never shuffles
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )
    plan = physical_plan(q("knn_join", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert not has_sort_merge_join(q("knn_join", spark, sf_dir))


def test_interval_join_is_equi_not_theta(spark, sf_dir):
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )
    plan = physical_plan(q("error_impact", spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_expand_sits_above_partial_agg(spark, sf_dir):
    # CUBE / GROUPING SETS: shuffle carries reduced rows, not 4x input
    for name in ("type_hour_cube", "status_priority_sets"):
        assert exchange_count(q(name, spark, sf_dir)) <= 2, name


def test_word_frequency_single_agg_shuffle(spark, sf_dir):
    # explode is map-side; one exchange for the count agg, top-k takes rest
    assert exchange_count(q("word_frequency", spark, sf_dir)) <= 2


def test_windowed_queries_bounded_shuffles(spark, sf_dir):
    # window on partition key = 1 exchange (+1 for final presentation sort)
    assert exchange_count(q("running_total", spark, sf_dir)) <= 2
    # daily agg + tiny unpartitioned window + sort
    assert exchange_count(q("daily_value_delta", spark, sf_dir)) <= 3


def test_tokenization_plan_shapes(spark, sf_dir):
    # vocab_pairs: map-side array algebra, ONE agg exchange, top-k planned
    # as TakeOrderedAndProject (no global sort)
    vp = q("vocab_pairs", spark, sf_dir)
    assert exchange_count(vp) == 1
    assert is_top_k(vp)
    # pack_sequences: the (source) window exchange is the only semantic
    # shuffle — the (source, bin) rollup reuses the window's hash
    # partitioning; +1 range exchange for the ordered result
    ps = q("pack_sequences", spark, sf_dir)
    assert exchange_count(ps) == 2
    # pii_redact: redaction is a projection over the scan; one agg
    # exchange + the ordered-result range exchange
    pr = q("pii_redact", spark, sf_dir)
    assert exchange_count(pr) == 2
    # scans stay pruned: pack_sequences reads 3 of documents' 5 columns
    assert all("text" not in s for s in scan_schemas(ps))


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """With broadcast disabled (the 100 TB fact⋈fact regime), a selective
    dim-side filter should inject a runtime bloom filter on the fact scan —
    rows that cannot join are dropped before the shuffle. Pins the conf
    recipe documented in SCALE.md."""
    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.plans.inspect import physical_plan
    from social_media_sentiment_analysis_spark.sources.batch import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        li = load_table(spark, sf_dir, "lineitem")
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = physical_plan(joined).lower()
        assert "mightcontain" in plan or "bloomfilter" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

def test_shipping_priority_plan_contract(spark, sf_dir):
    # Q3 shape: top-k must plan as TakeOrderedAndProject, and both date
    # splits must reach their parquet scans as pushed filters
    df = q("shipping_priority", spark, sf_dir)
    assert is_top_k(df)
    filters = pushed_filters(df)
    assert any("o_orderdate" in f for f in filters)
    assert any("l_shipdate" in f for f in filters)

def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Engine users can force a physical join strategy per join (the 100 TB
    regime where the planner's size estimates are wrong): merge → SMJ,
    shuffle_hash → ShuffledHashJoin, broadcast → BHJ."""
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )
    from social_media_sentiment_analysis_spark.sources.batch import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cond = orders.o_custkey == customer.c_custkey

    merge = orders.join(customer.hint("merge"), cond)
    assert "SortMergeJoin" in physical_plan(merge)

    shuffle_hash = orders.join(customer.hint("shuffle_hash"), cond)
    assert "ShuffledHashJoin" in physical_plan(shuffle_hash)

    bcast = orders.join(customer.hint("broadcast"), cond)
    assert "BroadcastHashJoin" in physical_plan(bcast)


def test_new_retrieval_and_q20_plan_contracts(spark, sf_dir):
    """Q20 chains LEFT SEMI broadcasts (fact reduced before its one
    aggregate exchange); hard-negative mining broadcasts the centroid
    table; hybrid search must not sort-merge anything (both rankers are
    window-over-small inputs + broadcast probes)."""
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )

    q20 = q("excess_volume_suppliers", spark, sf_dir)
    plan = physical_plan(q20)
    assert "LeftSemi" in plan
    assert has_broadcast_join(q20)
    assert not has_sort_merge_join(q20)

    hn = q("hard_negatives", spark, sf_dir)
    assert has_broadcast_join(hn)
    assert not has_sort_merge_join(hn)

    hs = q("hybrid_search", spark, sf_dir)
    assert not has_sort_merge_join(hs)
    assert is_top_k(hs) or "TakeOrdered" in physical_plan(hs)


def test_exchange_counts_do_not_regress(registry_frames):
    """Registry-wide exchange-count ratchet (r3 verdict #7): every query's
    shuffle count is pinned in tests/plan_snapshot.json (generated by
    tools/plan_snapshot.py under these exact conditions). A count ABOVE the
    snapshot means an extra shuffle snuck in — a lost broadcast, a lost
    partitioning reuse, a planner-visible regression — and fails here even
    while the oracle gate stays green. A count BELOW the snapshot is an
    improvement: the test still passes, and the report names the queries so
    the snapshot can be ratcheted down with a rerun of the tool."""
    import json
    from pathlib import Path

    snap_path = Path(__file__).parent / "plan_snapshot.json"
    snapshot = json.loads(snap_path.read_text())
    regressed, improved, new = {}, {}, []
    for name, df in registry_frames.items():
        got = exchange_count(df)
        pinned = snapshot.get(name)
        if pinned is None:
            new.append(name)
        elif got > pinned:
            regressed[name] = (pinned, got)
        elif got < pinned:
            improved[name] = (pinned, got)
    assert not regressed, (
        f"exchange counts regressed (pinned, got): {regressed}; if the "
        f"increase is intentional, justify it and rerun "
        f"tools/plan_snapshot.py")
    assert not new, (
        f"queries missing from plan_snapshot.json (rerun "
        f"tools/plan_snapshot.py): {new}")
    if improved:
        print(f"exchange counts improved — ratchet the snapshot: {improved}")


def test_jaccard_self_join_never_broadcasts_corpus(spark, sf_dir):
    """The shingled-corpus self-join must plan as a ShuffledHashJoin on the
    block key: broadcasting either side ships the ENTIRE corpus through
    the driver, which is slower at test SFs and impossible at 100 TB.
    Guards the shuffle_hash hints in llmdata._jaccard_pairs."""
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )

    # dedup_clusters shares this pair path but its returned plan starts at
    # the checkpointed component RDD, so the join is only visible here.
    plan = physical_plan(q("dedup_ngram_jaccard", spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_r5_rewrites_plan_shapes(spark, sf_dir):
    """Pin the round-5 shuffle-elimination rewrites structurally (the
    exchange-count ratchet pins the totals; these pin the MECHANISM so a
    refactor can't silently reintroduce the old shape at the same count):

    - dedup_spans: duplicated-position marking is a WINDOW over the
      shingle hash — the plan must contain NO join of any kind (the r4
      shape aggregated the profile and joined it back, re-shuffling the
      corpus and re-tokenizing it in a second scan) and only ONE parquet
      scan of documents;
    - char_entropy: the per-doc histogram is computed in the row — the
      plan must contain NO Generate (explode) and NO window, and its one
      hash exchange is the per-source partial aggregate.
    """
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )

    spans = physical_plan(q("dedup_spans", spark, sf_dir))
    assert "Join" not in spans, "dedup_spans must be join-free (window mark)"
    assert spans.count("FileScan") == 1, "one documents scan only"
    assert "Window" in spans

    ent = physical_plan(q("char_entropy", spark, sf_dir))
    assert "Generate" not in ent, "char_entropy must not explode"
    assert "Window" not in ent
    assert "FileScan" in ent


def test_winnowing_plan_single_corpus_exchange(spark, sf_dir):
    """winnowing_fingerprints: the shingle stream reaches the per-doc
    window through exactly one hash exchange on doc_id (the window sort);
    the distinct/count agg reuses that partitioning, and the source
    join happens at doc granularity — so no second shingle-level
    exchange may appear."""
    from social_media_sentiment_analysis_spark.plans.inspect import (
        physical_plan,
    )

    plan = physical_plan(q("winnowing_fingerprints", spark, sf_dir))
    # count hash exchanges below/around the window: the plan as a whole
    # may exchange doc-level rows for the join + source agg, but only ONE
    # exchange may partition on the window key alone (the shingle volume)
    import re

    shingle_exchanges = [
        m for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "doc_id" in m and "fp" not in m and "source" not in m]
    assert len(shingle_exchanges) <= 2, plan[:2000]
    assert "Window" in plan


# --- broadcast-hint lint: no forced broadcast of corpus-derived frames ----

# Adjudicated hits: broadcast hints whose subtree the lint cannot prove
# bounded but which ARE bounded, with the reason. Anything not listed here
# fails the test, so a new corpus-cardinality broadcast cannot land.
BROADCAST_LINT_ALLOWED = {
    # query set is <= 5 rows by the literal filter vec_id < 5 (the k-NN
    # JOIN's small side by construction; the scale path is knn_join_ann)
    "knn_join": "literal-bounded query set (vec_id < 5)",
    # same literal-bounded query set, broadcast for the exact referee the
    # r7 contract oracle compares the LSH join against
    "knn_join_ann": "literal-bounded query set (vec_id < 5)",
    # dense query vector is ONE row (equality on the unique vec_id) and the
    # sparse leg's 1-row stats anchor; the doclen join itself is unhinted
    "hybrid_search": "1-row query vector / 1-row stats anchor",
    # the broadcast side models the HELD-OUT BENCHMARK (fixed external eval
    # suite): constant-size in production regardless of corpus SF — the
    # doc_id % 100 filter is only the sandbox's stand-in for that table
    "contamination": "benchmark shingle set = fixed external eval suite",
    "contamination_spans": "benchmark spans = fixed external eval suite",
    # two hints: the verify join's benchmark set (same fixed-eval-suite
    # reason as contamination) and the bloom bitmap — bounded at
    # num_bits/64 rows BY CONSTRUCTION, but its localCheckpoint erases
    # the bounding aggregate from the analyzed plan (LogicalRDD leaf)
    "bloom_decontamination":
        "benchmark set (fixed eval suite) + checkpointed 32k-row bitmap",
    # the drained CMS is <= depth*width = 4096 cells BY CONSTRUCTION (the
    # sketch's whole point is corpus-size-independence), but like the
    # bloom bitmap its localCheckpoint erases the bounding aggregate from
    # the analyzed plan (LogicalRDD leaf), so the lint cannot prove it
    "streaming_heavy_hitters": "checkpointed <=4096-cell CMS sketch",
    # ~4.7k-entry constant valence lexicon (createDataFrame => LogicalRDD)
    "sentiment_enrich_relational": "constant 4.7k-entry lexicon",
    # the bucket-count model is <= _N_BUCKETS = 64 rows BY CONSTRUCTION
    # (hash space of the groupBy key); its r9 localCheckpoint (shared by
    # the totals and ratios consumers) erases the bounding aggregate from
    # the analyzed plan (LogicalRDD leaf), so the lint cannot prove it
    "dsir_select": "checkpointed 64-row bucket-count model",
    # the bigram-count LM is vocabulary-sized (distinct bigrams ≪ corpus
    # tokens — 931 rows at sf0.1; the lint accepted the pre-r9 Aggregate
    # on `bigram` as bounding); its r9 localCheckpoint (shared by the ctx,
    # |V| and probe consumers) erases that aggregate (LogicalRDD leaf)
    "bigram_logprob": "checkpointed vocabulary-sized bigram-count LM",
    # Q17's per-part AVG groups on l_partkey AFTER the broadcast dim
    # semi-join, so it is bounded by the brand's slice of the part DIM
    # (|part|/25) — the same star policy that broadcasts part itself; at
    # a SF where part stops being broadcastable, every dim join here
    # config-shifts together (lint.py docstring)
    "small_quantity_revenue": "bounded by the brand's part-dim slice",
}


def test_no_forced_broadcast_of_corpus_frames(registry_frames):
    """r5 verdict #2: an explicit broadcast() hint overrides the planner's
    size check, so a hint on a corpus-cardinality frame (one row per
    document/order/event — q_winnow_containment's pre-r6 sizes table) OOMs
    at production scale while passing every small-SF test. Walk every
    registry query's analyzed plan; any hint the lint cannot prove bounded
    must carry an adjudicated allowlist entry."""
    from social_media_sentiment_analysis_spark.plans.lint import (
        broadcast_violations,
    )

    unlisted = {}
    for name, df in registry_frames.items():
        hits = broadcast_violations(df)
        if hits and name not in BROADCAST_LINT_ALLOWED:
            unlisted[name] = [str(h) for h in hits]
    assert not unlisted, (
        "forced broadcast of corpus-derived frames (fix the query or "
        f"adjudicate in BROADCAST_LINT_ALLOWED): {unlisted}")


def test_winnow_containment_no_broadcast_hint(spark, sf_dir):
    """The r5 weak item stays fixed: per-doc set sizes ride a window count
    on the fingerprint table's existing doc partitioning — NO hint anywhere
    in the query (the fp self-join's strategy is the planner's call)."""
    df = q("winnow_containment", spark, sf_dir)
    analyzed = str(df._jdf.queryExecution().analyzed())
    assert "ResolvedHint" not in analyzed


class TestBroadcastLintUnit:
    """Unit pins for plans/lint.py on synthetic frames — the lint's own
    contract, independent of what the registry happens to contain."""

    def _docs(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        return load_table(spark, sf_dir, "documents")

    def test_flags_hint_on_raw_fact_scan(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from social_media_sentiment_analysis_spark.plans.lint import (
            broadcast_violations,
        )

        docs = self._docs(spark, sf_dir)
        bad = docs.select("doc_id").join(
            F.broadcast(self._docs(spark, sf_dir).select("doc_id", "lang")),
            "doc_id")
        assert broadcast_violations(bad)

    def test_flags_hint_on_per_doc_aggregate(self, spark, sf_dir):
        """The winnow_containment pre-r6 shape: per-entity aggregate
        (one row per doc) behind a forced broadcast."""
        import pyspark.sql.functions as F

        from social_media_sentiment_analysis_spark.plans.lint import (
            broadcast_violations,
        )

        docs = self._docs(spark, sf_dir)
        sizes = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        bad = docs.select("doc_id").join(F.broadcast(sizes), "doc_id")
        assert broadcast_violations(bad)

    def test_passes_bounded_aggregate_and_dedup(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from social_media_sentiment_analysis_spark.plans.lint import (
            broadcast_violations,
        )

        docs = self._docs(spark, sf_dir)
        by_source = docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"))         # bounded key: source
        ok = docs.join(F.broadcast(by_source), "source")
        assert broadcast_violations(ok) == []
        langs = docs.select("lang").distinct()    # Deduplicate [lang]
        ok2 = docs.join(F.broadcast(langs), "lang", "left_semi")
        assert broadcast_violations(ok2) == []

    def test_flags_checkpointed_frame(self, spark, sf_dir):
        """localCheckpoint erases lineage (LogicalRDD leaf) — a hint on a
        checkpointed frame must flag, however bounded its producer was;
        bounded-by-construction cases go through the allowlist."""
        import pyspark.sql.functions as F

        from social_media_sentiment_analysis_spark.plans.lint import (
            broadcast_violations,
        )

        docs = self._docs(spark, sf_dir)
        ck = (docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .localCheckpoint())
        bad = docs.join(F.broadcast(ck), "source")
        assert broadcast_violations(bad)

    def test_passes_global_limit(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from social_media_sentiment_analysis_spark.plans.lint import (
            broadcast_violations,
        )

        docs = self._docs(spark, sf_dir)
        top = docs.select("doc_id").orderBy("doc_id").limit(10)
        ok = docs.join(F.broadcast(top), "doc_id", "left_semi")
        assert broadcast_violations(ok) == []


def test_rfm_score_reattach_smj_fallback_shape(spark):
    """SCALE.md's rfm broadcast-ceiling row, plan-pinned at a synthetic
    |customers| with broadcast DISABLED (the above-64MB regime): the three
    (o_custkey, score) joins fall back to key-partitioned SMJ/SHJ, and the
    ROLLUP side pays exactly ONE hash exchange that the whole chain reuses
    (each intermediate keeps o_custkey partitioning) — no corpus-sized
    re-exchange appears when the broadcast stops being free. 4 exchanges
    total: rollup + one per score frame."""
    import pyspark.sql.functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n = 200_000
        per_cust = spark.range(n).select(
            F.col("id").alias("o_custkey"),
            (F.col("id") % 365).alias("recency_days"),
            (F.col("id") % 17).alias("frequency"),
            (F.col("id") % 1000).cast("double").alias("monetary"))
        def score(col, name):
            return per_cust.select(
                "o_custkey", (F.col(col) % 5 + 1).cast("int").alias(name))
        scored = (per_cust
                  .join(score("recency_days", "r_score"), "o_custkey")
                  .join(score("frequency", "f_score"), "o_custkey")
                  .join(score("monetary", "m_score"), "o_custkey"))
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        n_exchanges = plan.count("Exchange hashpartitioning(o_custkey")
        assert n_exchanges == 4, f"{n_exchanges} exchanges\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
