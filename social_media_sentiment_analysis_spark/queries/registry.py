"""Named query registry — the single source of truth consumed by
``__spark_entry__.py``, tests, and bench.py.

Each entry pairs a Spark DataFrame builder with its DuckDB oracle SQL
(None for genuinely non-SQL-expressible operators, which the driver checks
rows-only).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    llmdata,
    mlqueries,
    multimodal,
    reference,
    selection,
    semistructured,
    shaping,
    star,
    temporal,
    tokenization,
    windowed,
)


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


_ALL: list[Query] = [
    Query("sentiment_summary", reference.q_sentiment_summary,
          reference.ORACLE_SENTIMENT_SUMMARY,
          "A1: GROUP BY final_sentiment count/avg/sum, ORDER BY count desc"),
    Query("sentiment_total", reference.q_sentiment_total,
          reference.ORACLE_SENTIMENT_TOTAL,
          "A2: grand-total aggregate"),
    Query("sentiment_enrich", reference.q_sentiment_enrich,
          reference.ORACLE_SENTIMENT_ENRICH,
          "U4/U6: full clean→score→ensemble enrichment projection"),
    Query("sentiment_enrich_relational",
          reference.q_sentiment_enrich_relational,
          reference.ORACLE_SENTIMENT_ENRICH,
          "U4 via pure-JVM broadcast-lexicon-join plan (same oracle as the "
          "Arrow-UDF default — one oracle pins two independent plans)"),
    Query("recent_tweets", reference.q_recent_tweets,
          reference.ORACLE_RECENT_TWEETS,
          "O1: top-k by recency (TakeOrderedAndProject)"),
    Query("recent_negative", reference.q_recent_negative,
          reference.ORACLE_RECENT_NEGATIVE,
          "O1+P4: top-k with sentiment equality filter"),
    Query("lang_filter", reference.q_lang_filter,
          reference.ORACLE_LANG_FILTER,
          "P2/P3: language + non-empty-text filters"),
    Query("trailing_window", reference.q_trailing_window,
          reference.ORACLE_TRAILING_WINDOW,
          "P5: trailing 24h predicate + agg (anchored to max ts)"),
    Query("hourly_rollup", reference.q_hourly_rollup,
          reference.ORACLE_HOURLY_ROLLUP,
          "A3: hour × type rollup (batch form of the streaming rollup)"),
    Query("export", reference.q_export,
          reference.ORACLE_EXPORT,
          "O3/S8: filtered, sorted export projection"),
    # --- star-schema join surface (J1 generalized, SURVEY §2.3) ---
    Query("author_enrichment", star.q_author_enrichment,
          star.ORACLE_AUTHOR_ENRICHMENT,
          "J1: broadcast left equi-join of small dim onto fact stream"),
    Query("segment_engagement", star.q_segment_engagement,
          star.ORACLE_SEGMENT_ENGAGEMENT,
          "join + hash agg + distinct count per segment"),
    Query("revenue_by_region", star.q_revenue_by_region,
          star.ORACLE_REVENUE_BY_REGION,
          "4-table broadcast star join with aggregation"),
    Query("pricing_summary", star.q_pricing_summary,
          star.ORACLE_PRICING_SUMMARY,
          "TPC-H Q1 shape: filtered scan + partial/final hash agg"),
    Query("nation_brand_profit", star.q_nation_brand_profit,
          star.ORACLE_NATION_BRAND_PROFIT,
          "TPC-H Q9 shape: part/supplier/nation star around lineitem, "
          "filtered broadcast dims"),
    Query("priority_lineitem_revenue", star.q_priority_lineitem_revenue,
          star.ORACLE_PRIORITY_LINEITEM_REVENUE,
          "fact-to-fact shuffled join (lineitem ⋈ orders) + agg"),
    Query("top_customers", star.q_top_customers,
          star.ORACLE_TOP_CUSTOMERS,
          "top-k over join+agg (TakeOrderedAndProject)"),
    Query("inactive_customers", star.q_inactive_customers,
          star.ORACLE_INACTIVE_CUSTOMERS,
          "left anti join (NOT EXISTS)"),
    Query("active_customer_segments", star.q_active_customer_segments,
          star.ORACLE_ACTIVE_CUSTOMER_SEGMENTS,
          "left semi join (EXISTS) + agg"),
    Query("top_order_per_customer", star.q_top_order_per_customer,
          star.ORACLE_TOP_ORDER_PER_CUSTOMER,
          "window function: row_number top-1 per group"),
    Query("priority_rollup", star.q_priority_rollup,
          star.ORACLE_PRIORITY_ROLLUP,
          "ROLLUP with subtotals + grand total"),
    Query("big_orders", star.q_big_orders,
          star.ORACLE_BIG_ORDERS,
          "TPC-H Q18 shape: HAVING over the fact aggregate, survivor set "
          "broadcast back to dims"),
    Query("shipping_priority", star.q_shipping_priority,
          star.ORACLE_SHIPPING_PRIORITY,
          "TPC-H Q3 shape: date-split fact⋈fact⋈dim, revenue top-10 "
          "(TakeOrderedAndProject over the join-agg)"),
    Query("decimal_revenue", star.q_decimal_revenue,
          star.ORACLE_DECIMAL_REVENUE,
          "DECIMAL(18,4) money aggregation — exact, order-independent "
          "(the financial reproducibility contract)"),
    Query("late_orders_by_priority", star.q_late_orders_by_priority,
          star.ORACLE_LATE_ORDERS,
          "TPC-H Q4 shape: EXISTS as a conditioned LEFT SEMI join "
          "(equi-key + non-equi residual), no post-join distinct"),
    Query("cheapest_parts", star.q_cheapest_parts,
          star.ORACLE_CHEAPEST_PARTS,
          "TPC-H Q2 shape: per-group min + equality join-back (ties kept, "
          "broadcast mins, no second shuffle)"),
    Query("customer_activity_merge", star.q_customer_activity_merge,
          star.ORACLE_CUSTOMER_ACTIVITY_MERGE,
          "FULL OUTER join of two pre-aggregated fact sides with "
          "presence flags"),
    Query("customer_order_distribution", star.q_customer_order_distribution,
          star.ORACLE_CUSTOMER_ORDER_DISTRIBUTION,
          "TPC-H Q13 shape: LEFT OUTER + double aggregation "
          "(order-count distribution incl. the zero bucket)"),
    Query("wealthy_inactive_customers", star.q_wealthy_inactive_customers,
          star.ORACLE_WEALTHY_INACTIVE,
          "TPC-H Q22 shape: scalar-threshold filter + LEFT ANTI join "
          "(broadcast 1-row anchor, key-only anti build)"),
    Query("nation_trade_flows", star.q_nation_trade_flows,
          star.ORACLE_NATION_TRADE_FLOWS,
          "TPC-H Q7 shape: bilateral nation-pair revenue by year "
          "(dim-filtered fact-fact join)"),
    Query("market_share", star.q_market_share,
          star.ORACLE_MARKET_SHARE,
          "TPC-H Q8 shape: target-nation share of PROMO revenue per year "
          "(single-pass conditional aggregate)"),
    Query("returned_item_losses", star.q_returned_item_losses,
          star.ORACLE_RETURNED_ITEM_LOSSES,
          "TPC-H Q10 shape: top-20 customers by returned-item revenue "
          "(aggregate-before-dim-join)"),
    Query("promo_revenue", star.q_promo_revenue,
          star.ORACLE_PROMO_REVENUE,
          "TPC-H Q14 shape: monthly PROMO revenue share "
          "(conditional agg, one scan)"),
    Query("small_quantity_revenue", star.q_small_quantity_revenue,
          star.ORACLE_SMALL_QUANTITY_REVENUE,
          "TPC-H Q17 shape: below-half-average-quantity revenue "
          "(broadcast per-part scalar join-back)"),
    Query("brand_size_revenue", star.q_brand_size_revenue,
          star.ORACLE_BRAND_SIZE_REVENUE,
          "TPC-H Q19 shape: OR-of-ANDs join predicate with table-local "
          "residue pushdown"),
    Query("sole_late_supplier", star.q_sole_late_supplier,
          star.ORACLE_SOLE_LATE_SUPPLIER,
          "TPC-H Q21 shape: correlated EXISTS/NOT-EXISTS pair collapsed "
          "into one orderkey aggregation (fact moves once, not 3x)"),
    Query("local_supplier_revenue", star.q_local_supplier_revenue,
          star.ORACLE_LOCAL_SUPPLIER_REVENUE,
          "TPC-H Q5 shape: cross-dimension-path equality as a residual "
          "filter (no extra join)"),
    Query("important_stock", star.q_important_stock,
          star.ORACLE_IMPORTANT_STOCK,
          "TPC-H Q11 shape: share-of-global-total HAVING via "
          "window-over-aggregate (no second scan)"),
    Query("returnflag_priority_counts", star.q_returnflag_priority_counts,
          star.ORACLE_RETURNFLAG_PRIORITY_COUNTS,
          "TPC-H Q12 shape: two-way conditional counts over a fact-fact "
          "join (orders side pre-projected to key + boolean)"),
    Query("excess_volume_suppliers", star.q_excess_volume_suppliers,
          star.ORACLE_EXCESS_VOLUME_SUPPLIERS,
          "TPC-H Q20 shape: doubly nested IN collapsed to chained LEFT "
          "SEMI joins (fact reduced map-side, supplier never shuffled)"),
    Query("supplier_concentration", star.q_supplier_concentration,
          star.ORACLE_SUPPLIER_CONCENTRATION,
          "Herfindahl index of supplier revenue shares per brand "
          "(single-source-risk readout; shares rounded before squaring)"),
    Query("dup_cluster_sizes", llmdata.q_dup_cluster_sizes,
          llmdata.ORACLE_DUP_CLUSTER_SIZES,
          "dedup health report: exact-dup cluster size histogram + "
          "per-bucket doc volume"),
    Query("discount_elasticity", star.q_discount_elasticity,
          star.ORACLE_DISCOUNT_ELASTICITY,
          "grouped OLS: per-brand slope/intercept/r2 of quantity on "
          "discount (algebraic aggregates, one brand-key exchange)"),
    Query("order_intervals", windowed.q_order_intervals,
          windowed.ORACLE_ORDER_INTERVALS,
          "inter-purchase interval distribution (lag window; exact "
          "percentiles over integer day gaps)"),
    Query("basket_rules", star.q_basket_rules,
          star.ORACLE_BASKET_RULES,
          "market-basket association rules: top-20 pairs by lift "
          "(same-order self-join bounded by basket size; supports "
          "broadcast back)"),
    Query("regional_revenue_share", star.q_regional_revenue_share,
          star.ORACLE_REGIONAL_REVENUE_SHARE,
          "two-level percent-of-parent hierarchy report (windows over the "
          "25-row aggregate; no second fact scan)"),
    Query("supplier_triangles", star.q_supplier_triangles,
          star.ORACLE_SUPPLIER_TRIANGLES,
          "triangle counting on the supplier co-purchase graph (oriented "
          "wedge join; each triangle counted once)"),
    Query("forecast_revenue_change", star.q_forecast_revenue_change,
          star.ORACLE_FORECAST_REVENUE_CHANGE,
          "TPC-H Q6 shape: pure filtered-scan aggregate — the pushdown "
          "proof query"),
    Query("top_supplier", star.q_top_supplier,
          star.ORACLE_TOP_SUPPLIER,
          "TPC-H Q15 shape: global max-equality join-back over a "
          "per-supplier rollup (ties kept)"),
    Query("parts_supplier_counts", star.q_parts_supplier_counts,
          star.ORACLE_PARTS_SUPPLIER_COUNTS,
          "TPC-H Q16 shape: distinct-supplier counts with anti-join "
          "blacklist"),
    Query("skew_salted_revenue", star.q_skew_salted_revenue,
          star.ORACLE_SKEW_SALTED_REVENUE,
          "manually salted skew join (8 salt buckets), result identical "
          "to the plain join"),
    # --- window-function analytics (queries/windowed.py) ---
    Query("running_total", windowed.q_running_total,
          windowed.ORACLE_RUNNING_TOTAL,
          "window: per-customer cumulative spend (ROWS prefix sum)"),
    Query("daily_value_delta", windowed.q_daily_value_delta,
          windowed.ORACLE_DAILY_VALUE_DELTA,
          "window: lag/day-over-day delta over the daily aggregate"),
    Query("moving_average", windowed.q_moving_average,
          windowed.ORACLE_MOVING_AVERAGE,
          "window: 7-row trailing moving average"),
    Query("customer_spend_quartiles", windowed.q_customer_spend_quartiles,
          windowed.ORACLE_CUSTOMER_SPEND_QUARTILES,
          "window: ntile quartiles + percent_rank over per-customer spend"),
    Query("above_avg_orders", windowed.q_above_avg_orders,
          windowed.ORACLE_ABOVE_AVG_ORDERS,
          "correlated-subquery pattern via window: one scan, one shuffle"),
    Query("type_share", windowed.q_type_share,
          windowed.ORACLE_TYPE_SHARE,
          "window-over-aggregate: share-of-total without a second scan"),
    Query("decayed_engagement", windowed.q_decayed_engagement,
          windowed.ORACLE_DECAYED_ENGAGEMENT,
          "exponential time-decay (24h half-life) engagement score per "
          "user, data-relative anchor"),
    Query("trailing_hour_avg", windowed.q_trailing_hour_avg,
          windowed.ORACLE_TRAILING_HOUR_AVG,
          "RANGE-frame window: trailing 1-hour per-user average "
          "(time-gap frame, not row count)"),
    Query("cohort_ltv", windowed.q_cohort_ltv,
          windowed.ORACLE_COHORT_LTV,
          "cohort LTV curves: first-order-month cohorts, cumulative spend "
          "per member by month age (windows over the rollup)"),
    Query("rfm_segments", windowed.q_rfm_segments,
          windowed.ORACLE_RFM_SEGMENTS,
          "RFM customer segmentation: quintile windows over the per-"
          "customer rollup, broadcast recency anchor, segment rollup"),
    Query("time_weighted_avg", windowed.q_time_weighted_avg,
          windowed.ORACLE_TIME_WEIGHTED_AVG,
          "daily TWAP per type: lead()-derived interval weights, one "
          "window exchange reused by the rollup"),
    Query("top_orders_with_ties", windowed.q_top_orders_with_ties,
          windowed.ORACLE_TOP_ORDERS_WITH_TIES,
          "top-k per group WITH ties (rank vs row_number semantics)"),
    Query("cumulative_unique_users", windowed.q_cumulative_unique_users,
          windowed.ORACLE_CUMULATIVE_UNIQUE_USERS,
          "cumulative distinct via first-seen attribution + running sum "
          "(no distinct-over-window state)"),
    # --- result shaping: cube/pivot/percentiles/set-ops/explode ---
    Query("type_hour_cube", shaping.q_type_hour_cube,
          shaping.ORACLE_TYPE_HOUR_CUBE,
          "CUBE over (event_type, hour band): all subtotals in one pass"),
    Query("daily_type_pivot", shaping.q_daily_type_pivot,
          shaping.ORACLE_DAILY_TYPE_PIVOT,
          "PIVOT with explicit value list → static wide schema"),
    Query("value_percentiles", shaping.q_value_percentiles,
          shaping.ORACLE_VALUE_PERCENTILES,
          "exact p25/p50/p75/p90 per group (linear interpolation)"),
    Query("quantile_sketch", shaping.q_quantile_sketch,
          shaping.ORACLE_QUANTILE_SKETCH,
          "approx_percentile (GK summary) with the rank-error theorem "
          "oracle-pinned against exact ranks — bounded-state quantiles "
          "for 100 TB"),
    Query("status_priority_sets", shaping.q_status_priority_sets,
          shaping.ORACLE_STATUS_PRIORITY_SETS,
          "GROUPING SETS ((status),(priority)): disjoint subtotals, one scan"),
    Query("cohort_overlap", shaping.q_cohort_overlap,
          shaping.ORACLE_COHORT_OVERLAP,
          "set ops: INTERSECT / EXCEPT / UNION cohort sizes"),
    Query("props_extract", shaping.q_props_extract,
          shaping.ORACLE_PROPS_EXTRACT,
          "schema-on-read JSON extraction (get_json_object) + agg"),
    Query("snapshot_diff", shaping.q_snapshot_diff,
          shaping.ORACLE_SNAPSHOT_DIFF,
          "snapshot diff / CDC classification (FULL OUTER on key + "
          "fingerprint equality; added/removed/modified/unchanged)"),
    Query("props_variant", shaping.q_props_variant,
          shaping.ORACLE_PROPS_VARIANT,
          "VARIANT semi-structured path: parse_json → variant_get typed "
          "extraction + agg (Spark 4 binary variant encoding)"),
    Query("stats_profile", shaping.q_stats_profile,
          shaping.ORACLE_STATS_PROFILE,
          "statistical aggregates: stddev/var/corr/covar/count_if/max_by"),
    Query("value_histogram", shaping.q_value_histogram,
          shaping.ORACLE_VALUE_HISTOGRAM,
          "fixed-bin histogram: floor binning + one hash aggregate"),
    Query("scd2_history", temporal.q_scd2_history,
          temporal.ORACLE_SCD2_HISTORY,
          "SCD Type-2 dimension build: collapse consecutive states, "
          "validity ranges via lead() (one sort-exchange)"),
    Query("bm25_search", tokenization.q_bm25_search,
          tokenization.ORACLE_BM25_SEARCH,
          "BM25 retrieval scoring for a fixed query (index-free posting-"
          "list cost; no float ranking)"),
    Query("key_skew_profile", shaping.q_key_skew_profile,
          shaping.ORACLE_KEY_SKEW_PROFILE,
          "join-key skew diagnostic: group-size distribution + hot-key "
          "ratio"),
    Query("top_sources_with_other", shaping.q_top_sources_with_other,
          shaping.ORACLE_TOP_SOURCES_WITH_OTHER,
          "top-N + OTHER rollup (broadcast membership, deterministic tie "
          "cutoff)"),
    Query("type_value_geomean", shaping.q_type_value_geomean,
          shaping.ORACLE_TYPE_VALUE_GEOMEAN,
          "geometric mean per group (exp∘avg∘ln Column aggregate, no "
          "Python crossing)"),
    Query("value_bars", windowed.q_value_bars,
          windowed.ORACLE_VALUE_BARS,
          "6-hour OHLC resampling bars (min_by/max_by on (ts,value) — one "
          "aggregate, no window sort)"),
    Query("nested_order_docs", shaping.q_nested_order_docs,
          shaping.ORACLE_NESTED_ORDER_DOCS,
          "denormalize-then-compute: array-of-structs order documents, "
          "metrics via higher-order functions (no re-explode)"),
    Query("equidepth_histogram", shaping.q_equidepth_histogram,
          shaping.ORACLE_EQUIDEPTH_HISTOGRAM,
          "equi-depth decile histogram via broadcast percentile bounds "
          "(no global sort)"),
    Query("winsorized_stats", shaping.q_winsorized_stats,
          shaping.ORACLE_WINSORIZED_STATS,
          "winsorized mean: exact p05/p95 clamp, broadcast bounds"),
    Query("ab_test", shaping.q_ab_test,
          shaping.ORACLE_AB_TEST,
          "A/B experiment readout: salted-hash arm assignment, per-type "
          "two-sample z-score from one conditional aggregate"),
    Query("feature_drift", shaping.q_feature_drift,
          shaping.ORACLE_FEATURE_DRIFT,
          "PSI drift monitor between time halves (fixed-width bins from "
          "broadcast anchors; one fact scan + one histogram exchange)"),
    Query("pseudonymize_audit", shaping.q_pseudonymize_audit,
          shaping.ORACLE_PSEUDONYMIZE_AUDIT,
          "de-identification integrity: salted-SHA256 pseudonyms are 1:1 "
          "with subjects (JVM-side hash, one aggregate)"),
    Query("k_anonymity", shaping.q_k_anonymity,
          shaping.ORACLE_K_ANONYMITY,
          "k-anonymity release audit over the quasi-identifier tuple "
          "(min group size, below-threshold group count)"),
    Query("hourly_anomalies", shaping.q_hourly_anomalies,
          shaping.ORACLE_HOURLY_ANOMALIES,
          "seasonal-baseline anomaly detection: hour-of-day profile "
          "(mean/σ over hourly rollup) broadcast back; >2σ hours flagged"),
    Query("mad_outliers", shaping.q_mad_outliers,
          shaping.ORACLE_MAD_OUTLIERS,
          "median/MAD robust outlier detection per group (broadcast-bounds "
          "double aggregate)"),
    Query("integrity_audit", shaping.q_integrity_audit,
          shaping.ORACLE_INTEGRITY_AUDIT,
          "data-quality audit: orphan FKs, duplicate keys, nulls"),
    Query("word_frequency", shaping.q_word_frequency,
          shaping.ORACLE_WORD_FREQUENCY,
          "explode/unnest: top-20 word counts over English documents"),
    Query("nation_segments", shaping.q_nation_segments,
          shaping.ORACLE_NATION_SEGMENTS,
          "LISTAGG family: sorted distinct collect_set → string per group"),
    Query("value_trend", shaping.q_value_trend,
          shaping.ORACLE_VALUE_TREND,
          "regr_slope/intercept/r2 aggregates: value drift over time per "
          "event type"),
    Query("unpivot_daily_counts", shaping.q_unpivot_daily_counts,
          shaping.ORACLE_UNPIVOT_DAILY_COUNTS,
          "UNPIVOT: pivot→melt round trip equals the direct long-form agg"),
    Query("distinct_users_by_type", shaping.q_distinct_users_by_type,
          shaping.ORACLE_DISTINCT_USERS_BY_TYPE,
          "skew-safe two-stage COUNT(DISTINCT) (pair-dedup then count)"),
    # --- LLM-data-pipeline operators (BASELINE north star) ---
    Query("dedup_exact", llmdata.q_dedup_exact,
          llmdata.ORACLE_DEDUP_EXACT,
          "exact dedup: md5 hash-groupBy, keeper id + copy count"),
    Query("dedup_ngram_jaccard", llmdata.q_dedup_ngram_jaccard,
          llmdata.ORACLE_DEDUP_NGRAM,
          "near-dup pairs: word-3-gram Jaccard, prefix-blocked"),
    Query("dedup_clusters", llmdata.q_dedup_clusters,
          llmdata.ORACLE_DEDUP_CLUSTERS,
          "near-dup clusters: large-star/small-star connected components "
          "over the jaccard pair graph vs recursive-CTE closure"),
    Query("dedup_canonical", llmdata.q_dedup_canonical,
          llmdata.ORACLE_DEDUP_CANONICAL,
          "keeper election per near-dup cluster (longest doc, "
          "deterministic tiebreak) with dropped-volume accounting"),
    Query("dedup_minhash", llmdata.q_dedup_minhash,
          llmdata.ORACLE_DEDUP_MINHASH,
          "near-dup pairs: MinHash sigs → banded LSH → Jaccard verify, "
          "pair-by-pair vs the EXHAUSTIVE exact-Jaccard answer (proves "
          "zero false positives AND full banding recall on this corpus)"),
    Query("dedup_simhash", llmdata.q_dedup_simhash,
          llmdata.ORACLE_DEDUP_SIMHASH,
          "64-bit SimHash banded near-dup with theorem gate: exact "
          "text-dup pair count + identical-text-pairs-emitted / "
          "hamming-bound / canonical-form invariants pinned TRUE"),
    Query("dedup_levenshtein", llmdata.q_dedup_levenshtein,
          llmdata.ORACLE_DEDUP_LEVENSHTEIN,
          "near-dup pairs: edit distance on 80-char heads, prefix-blocked"),
    Query("streaming_dedup_embedding", llmdata.q_streaming_dedup_embedding,
          llmdata.ORACLE_STREAMING_DEDUP_EMBEDDING,
          "STREAMING embedding near-dup flags via a persisted bucketed "
          "vector store (block probe + exact zip_with cosine): flag set "
          "equals the batch answer regardless of batching — seventh "
          "streaming=batch gate member, first with vector state"),
    Query("dedup_embedding_multiband",
          llmdata.q_dedup_embedding_multiband,
          llmdata.ORACLE_DEDUP_EMBEDDING_MULTIBAND,
          "OR-of-bands hyperplane LSH near-dup pairs (8 bands x 2 bits, "
          "any-band collision, exact-cosine verified) — the high-recall "
          "unblocked-corpus scale path (~0.95 measured recall vs the "
          "exhaustive answer, no label attribute needed); FULL value "
          "oracle with the plane bands replayed in DuckDB"),
    Query("streaming_dedup_embedding_lsh",
          llmdata.q_streaming_dedup_embedding_lsh,
          llmdata.ORACLE_STREAMING_DEDUP_EMBEDDING_LSH,
          "the embedding dedup sink in its documented 100 TB blocking "
          "mode — hyperplane-LSH bucket as the block key instead of "
          "label; FULL value oracle (the md5-derived planes replayed in "
          "DuckDB), recall vs exact measured and documented"),
    Query("streaming_dedup_embedding_multiband",
          llmdata.q_streaming_dedup_embedding_multiband,
          llmdata.ORACLE_STREAMING_DEDUP_EMBEDDING_MULTIBAND,
          "the OR-of-bands HIGH-RECALL streaming dedup sink (persisted "
          "(band,val)-bucketed banded store, collisions exact-verified, "
          "pairs deduped across bands): flag set equals the batch "
          "multiband answer regardless of batching — ~0.98 recall vs "
          "exhaustive with no label attribute"),
    Query("embedding_norm_stats", llmdata.q_embedding_norm_stats,
          llmdata.ORACLE_EMBEDDING_NORM_STATS,
          "per-label L2-norm profile via higher-order array fold (no UDF)"),
    Query("embedding_dim_profile", llmdata.q_embedding_dim_profile,
          llmdata.ORACLE_EMBEDDING_DIM_PROFILE,
          "per-dimension mean/std/min/max across the embedding corpus "
          "(dead-dim / scale-outlier healthcheck)"),
    Query("quantize_embeddings", llmdata.q_quantize_embeddings,
          llmdata.ORACLE_QUANTIZE_EMBEDDINGS,
          "int8 symmetric quantization + reconstruction-error audit "
          "(pure array folds, |labels|-row output)"),
    Query("label_centroids", llmdata.q_label_centroids,
          llmdata.ORACLE_LABEL_CENTROIDS,
          "per-label centroid + cosine cohesion profile (broadcast "
          "centroid table, map-side folds)"),
    Query("dedup_embedding", llmdata.q_dedup_embedding,
          llmdata.ORACLE_DEDUP_EMBEDDING,
          "near-dup pairs: cosine >= 0.95, label-blocked"),
    Query("knn_bruteforce", llmdata.q_knn_bruteforce,
          llmdata.ORACLE_KNN_BRUTEFORCE,
          "exact cosine top-10 for a query vector (TakeOrderedAndProject)"),
    Query("knn_ann", llmdata.q_knn_ann, llmdata.ORACLE_KNN_ANN,
          "LSH-bucketed approximate top-10 — r7: contract oracle (exact "
          "cosine top-10 recomputed by the twin; score-bound + recall "
          "floor pinned TRUE)"),
    Query("knn_join", llmdata.q_knn_join,
          llmdata.ORACLE_KNN_JOIN,
          "exact k-NN join: broadcast query set, top-3 per query via window"),
    Query("knn_join_ann", llmdata.q_knn_join_ann,
          llmdata.ORACLE_KNN_JOIN_ANN,
          "LSH-bucketed approximate k-NN join — r7: per-query contract "
          "oracle (exact top-3 sets recomputed by the twin; top-k bound "
          "+ per-query recall floor pinned TRUE)"),
    Query("text_stats", llmdata.q_text_stats,
          llmdata.ORACLE_TEXT_STATS,
          "token/char counts, stopword ratio, quality score"),
    Query("lang_id", llmdata.q_lang_id,
          llmdata.ORACLE_LANG_ID,
          "heuristic language-ID vs labels, aggregated"),
    Query("fingerprints", llmdata.q_fingerprints,
          llmdata.ORACLE_FINGERPRINTS,
          "content + order-insensitive bag fingerprints"),
    Query("doc_pagerank", llmdata.q_doc_pagerank,
          llmdata.ORACLE_DOC_PAGERANK,
          "PageRank over the near-dup graph (iterative, checkpointed "
          "rounds; oracle = 10 unrolled power-iteration CTEs)"),
    Query("repetition", llmdata.q_repetition,
          llmdata.ORACLE_REPETITION,
          "repetition-ratio quality signal: duplicated-shingle fraction"),
    Query("embed_documents", llmdata.q_embed_documents,
          llmdata.ORACLE_EMBED_DOCUMENTS,
          "hashing-trick embedding generation, pure Column — featurizer "
          "theorems (unit norm, dim, same-text determinism) oracle-pinned"),
    Query("contamination", llmdata.q_contamination,
          llmdata.ORACLE_CONTAMINATION,
          "benchmark decontamination: broadcast n-gram overlap check"),
    Query("bloom_decontamination", llmdata.q_bloom_decontamination,
          llmdata.ORACLE_BLOOM_DECONTAMINATION,
          "decontamination via native bloom_filter_agg pre-probe — "
          "fixed-size bitmap broadcast, corpus never shuffles; oracle "
          "gates the no-false-negative theorem (exact manifest parity)"),
    Query("stratified_sample", llmdata.q_stratified_sample,
          llmdata.ORACLE_STRATIFIED_SAMPLE,
          "deterministic md5-gated stratified sampling, per-source rates"),
    Query("weighted_sample", llmdata.q_weighted_sample,
          llmdata.ORACLE_WEIGHTED_SAMPLE,
          "quality-weighted deterministic sampling (md5-uniform gate ×"
          " per-doc weight, broadcast max anchor)"),
    Query("dataset_split", llmdata.q_dataset_split,
          llmdata.ORACLE_DATASET_SPLIT,
          "deterministic md5-bucketed train/val/test split (80/10/10), "
          "per-split doc/token volume"),
    Query("source_sample", llmdata.q_source_sample,
          llmdata.ORACLE_SOURCE_SAMPLE,
          "deterministic k-per-group sampling via hash-rank window "
          "(reservoir-sample twin)"),
    Query("streaming_reservoir_sample",
          llmdata.q_streaming_reservoir_sample,
          llmdata.ORACLE_STREAMING_RESERVOIR_SAMPLE,
          "bounded uniform sample maintained incrementally by a "
          "bottom-k-priority foreachBatch sink (k-row state, replay-"
          "insensitive by algebra); gate proves convergence to the "
          "batch ORDER BY md5 LIMIT k answer — fifth streaming=batch "
          "member, priority-sample state class"),
    Query("source_mix", llmdata.q_source_mix,
          llmdata.ORACLE_SOURCE_MIX,
          "token-budget source mixing: computed rates, md5-gated, "
          "engine-exact membership"),
    Query("mixture_weights", llmdata.q_mixture_weights,
          llmdata.ORACLE_MIXTURE_WEIGHTS,
          "temperature-scaled source mixture (T=2) with UniMax-style "
          "4-epoch cap; decimal-summed normalizer"),
    Query("chunk_documents", llmdata.q_chunk_documents,
          llmdata.ORACLE_CHUNK_DOCUMENTS,
          "sequence chunking: 50-token windows, one row per chunk, "
          "map-side only (zero shuffles)"),
    Query("curation_pipeline", llmdata.q_curation_pipeline,
          llmdata.ORACLE_CURATION_PIPELINE,
          "capstone: filter→dedup→chunk→rollup fused into one plan, "
          "two shuffles total"),
    Query("curation_funnel", llmdata.q_curation_funnel,
          llmdata.ORACLE_CURATION_FUNNEL,
          "curation funnel: raw → lang → quality → dedup stage counts and "
          "token volumes, conditional aggregates (no per-stage rescans)"),
    Query("unigram_logprob", llmdata.q_unigram_logprob,
          llmdata.ORACLE_UNIGRAM_LOGPROB,
          "CCNet-style quality score: avg -log p(token) under the corpus "
          "unigram LM (broadcast vocabulary probe)"),
    Query("hard_negatives", llmdata.q_hard_negatives,
          llmdata.ORACLE_HARD_NEGATIVES,
          "hard-negative mining: per-label-centroid top-5 most-similar "
          "other-label vectors (broadcast centroids, map-side fold, "
          "rank-stable top-k)"),
    Query("hybrid_search", tokenization.q_hybrid_search,
          tokenization.ORACLE_HYBRID_SEARCH,
          "hybrid lexical+dense retrieval: BM25 top-20 ⊕ embedding-cosine "
          "top-20 fused by reciprocal-rank fusion (rank-stable via rounded "
          "scores + id tiebreaks)"),
    Query("vocab_growth", tokenization.q_vocab_growth,
          tokenization.ORACLE_VOCAB_GROWTH,
          "Heaps'-law vocabulary growth curve (first-seen attribution — "
          "no distinct-over-growing-frame state)"),
    Query("zipf_exponent", tokenization.q_zipf_exponent,
          tokenization.ORACLE_ZIPF_EXPONENT,
          "Zipf's-law fit: OLS slope of log-freq on log-rank over the "
          "top-100 words"),
    Query("inverted_index", tokenization.q_inverted_index,
          tokenization.ORACLE_INVERTED_INDEX,
          "inverted-index materialization: per-term df/tf + sorted "
          "posting-list arrays (deterministic packing)"),
    Query("bigram_logprob", llmdata.q_bigram_logprob,
          llmdata.ORACLE_BIGRAM_LOGPROB,
          "order-2 LM quality score: avg -log p(w2|w1) with add-one "
          "smoothing (bigram model aggregated once, broadcast probe)"),
    Query("gopher_quality", llmdata.q_gopher_quality,
          llmdata.ORACLE_GOPHER_QUALITY,
          "Gopher-style 5-rule quality gate, per-source per-rule pass "
          "counts in one scan + one exchange"),
    Query("incremental_dedup", llmdata.q_incremental_dedup,
          llmdata.ORACLE_INCREMENTAL_DEDUP,
          "incremental batch-vs-corpus fingerprint dedup: shuffled hash "
          "probe + within-batch rank, per-source accounting"),
    Query("sketch_profile", llmdata.q_sketch_profile,
          llmdata.ORACLE_SKETCH_PROFILE,
          "HLL++ distinct + approx-percentile quantiles per group with "
          "BOTH error contracts in the gate: exact distincts recomputed "
          "by the twin, 3·rsd HLL envelope + 3ε·N GK rank booleans "
          "(incl. p99) pinned TRUE"),
    # --- MLlib path (fitted models; rows-only, accuracy asserted in tests) ---
    Query("knn_ivf", mlqueries.q_knn_ivf,
          mlqueries.ORACLE_KNN_IVF,
          "IVF ANN with contract gate: exact top-10 recomputed by the "
          "twin, full-probe==exact theorem + pruned-probe recall floor "
          "pinned TRUE"),
    Query("dedup_minhash_mllib", mlqueries.q_dedup_minhash_mllib,
          mlqueries.ORACLE_DEDUP_MINHASH_MLLIB,
          "MinHashLSH approxSimilarityJoin near-dup — r7: contract oracle "
          "(SQL-exact exhaustive pair count; identical-pair containment, "
          "recall floor, canonical form pinned TRUE)"),
    Query("classify_sentiment", mlqueries.q_classify_sentiment,
          mlqueries.ORACLE_CLASSIFY_SENTIMENT,
          "TF-IDF + logistic regression on lexicon weak labels — r7: "
          "contract oracle (SQL-exact doc count; label validity and "
          ">=0.9 teacher agreement pinned TRUE)"),
    # --- temporal: as-of join + sessionization ---
    Query("asof_latest_order", temporal.q_asof_latest_order,
          temporal.ORACLE_ASOF_LATEST_ORDER,
          "backward as-of join via union + window forward-fill (one shuffle)"),
    Query("asof_next_order", temporal.q_asof_next_order,
          temporal.ORACLE_ASOF_NEXT_ORDER,
          "forward as-of join (earliest right ≥ left ts) — same one-shuffle "
          "plan scanned descending"),
    Query("sessionization", temporal.q_sessionization,
          temporal.ORACLE_SESSIONIZATION,
          "per-key session_window rollup (30-min gap)"),
    Query("session_funnel", temporal.q_session_funnel,
          temporal.ORACLE_SESSION_FUNNEL,
          "ordered-sequence funnel: view→click→purchase via first-event "
          "timestamps, one pass"),
    Query("retention_cohorts", temporal.q_retention_cohorts,
          temporal.ORACLE_RETENTION_COHORTS,
          "weekly retention matrix: cohort stamp via window, no self-joins"),
    Query("conversion_latency", temporal.q_conversion_latency,
          temporal.ORACLE_CONVERSION_LATENCY,
          "time-to-convert percentiles (conditional-MIN first events, no "
          "fact self-join; exact percentiles over converters)"),
    Query("event_transitions", temporal.q_event_transitions,
          temporal.ORACLE_EVENT_TRANSITIONS,
          "first-order Markov transition matrix over user journeys (lead "
          "window on one user exchange; row-normalized probabilities)"),
    Query("similar_days", temporal.q_similar_days,
          temporal.ORACLE_SIMILAR_DAYS,
          "time-series similarity search: top-5 z-normalized-euclidean "
          "similar day-pairs per type (pairwise join over day vectors, "
          "never a fact self-join)"),
    Query("event_pattern_match", temporal.q_event_pattern_match,
          temporal.ORACLE_EVENT_PATTERN_MATCH,
          "MATCH_RECOGNIZE-style regex over per-user event-code sequences "
          "(one groupBy exchange; repetition-aware patterns)"),
    Query("conversion_attribution", temporal.q_conversion_attribution,
          temporal.ORACLE_CONVERSION_ATTRIBUTION,
          "last-touch attribution: join-free forward-fill of the last "
          "click onto purchases (one user_id exchange), 7-day lookback"),
    Query("common_paths", temporal.q_common_paths,
          temporal.ORACLE_COMMON_PATHS,
          "sequence mining: top-10 opening event paths per user "
          "(sort_array-after-shuffle determinism, one exchange + top-k)"),
    Query("error_impact", temporal.q_error_impact,
          temporal.ORACLE_ERROR_IMPACT,
          "range join: views in the 10 min after a same-user error "
          "(banded equi-join, no theta join)"),
    Query("rolling_active_users", temporal.q_rolling_active_users,
          temporal.ORACLE_ROLLING_ACTIVE_USERS,
          "sliding distinct: exact rolling 7-day active users via pair "
          "dedup + bounded explode fan-out (no range join)"),
    Query("rolling_active_users_hll", temporal.q_rolling_active_users_hll,
          temporal.ORACLE_ROLLING_ACTIVE_USERS_HLL,
          "sliding distinct at scale: per-day HLL sketches union-merged "
          "over the 7-day frame (native datasketches); oracle gates the "
          "exact counts + the sketch accuracy envelope"),
    Query("streaming_rolling_distinct_hll",
          temporal.q_streaming_rolling_distinct_hll,
          temporal.ORACLE_ROLLING_ACTIVE_USERS_HLL,
          "sliding 7-day distinct whose per-day HLL state is built by "
          "structured streaming (registers merge across micro-batches), "
          "window-unioned in batch — fourth streaming=batch gate member, "
          "first with mergeable-sketch state; shares the batch oracle"),
    Query("gapfill_hourly", temporal.q_gapfill_hourly,
          temporal.ORACLE_GAPFILL_HOURLY,
          "gap-fill: dense hourly spine + forward-fill interpolation"),
    # --- multimodal: opaque binary payload + typed metadata ---
    Query("media_metadata", multimodal.q_media_metadata,
          multimodal.ORACLE_MEDIA_METADATA,
          "per-modality metadata rollup, payload stays opaque/columnar"),
    Query("media_frames", multimodal.q_media_frames,
          multimodal.ORACLE_MEDIA_FRAMES,
          "video frame sampling (mapInPandas row expansion) + per-media "
          "rollup — r7: FULL oracle (the fake codec's stride/timestamp/"
          "slice arithmetic replayed in SQL via generate_series)"),
    Query("media_dedup", multimodal.q_media_dedup,
          multimodal.ORACLE_MEDIA_DEDUP,
          "exact media dedup by payload content hash (JVM-side md5 over "
          "binary; bytes never cross to Python)"),
    Query("media_segments", multimodal.q_media_segments,
          multimodal.ORACLE_MEDIA_SEGMENTS,
          "audio segmentation (overlapping 1s windows, 500ms hop) + "
          "per-media rollup — r7: FULL oracle (hop loop incl. early-exit "
          "and byte-offset floors replayed in SQL)"),
    Query("media_features", multimodal.q_media_features,
          multimodal.ORACLE_MEDIA_FEATURES,
          "mapInPandas decode→features per-modality rollup — r7: FULL "
          "oracle (byte means as code-point averages, frame counts as "
          "the 256-byte ceil, recomputed in SQL)"),
    Query("media_alignment", multimodal.q_media_alignment,
          multimodal.ORACLE_MEDIA_ALIGNMENT,
          "CLIP-score-style caption↔media alignment audit — r7: theorem "
          "oracle (SQL-exact matched/mismatched pair counts; matched "
          "cosine-1 and positive-gap booleans pinned TRUE)"),
    Query("media_video_neardup", multimodal.q_media_video_neardup,
          multimodal.ORACLE_MEDIA_VIDEO_NEARDUP,
          "frame-level video near-dup (per-frame dHash + banded join + "
          "frame-majority verify) — r7: theorem oracle (exact identical-"
          "payload pair count + emitted/bounds/canonical pinned TRUE)"),
    Query("doc_communities", llmdata.q_doc_communities,
          llmdata.ORACLE_DOC_COMMUNITIES,
          "label-propagation communities over the near-dup graph "
          "(deterministic sync LPA; oracle = 5 unrolled LPA-round CTEs)"),
    Query("knn_pq", mlqueries.q_knn_pq, mlqueries.ORACLE_KNN_PQ,
          "product-quantization ANN (ADC shortlist + exact rerank, the "
          "FAISS refine shape) — r7: contract oracle (exact L2 top-10 "
          "recomputed by the twin; code validity + recall floor)"),
    Query("word_embeddings", mlqueries.q_word_embeddings,
          mlqueries.ORACLE_WORD_EMBEDDINGS,
          "Word2Vec skip-gram fit + synonym probe — r7: contract oracle "
          "(SQL-exact query word; neighbor count, self-exclusion, "
          "similarity range pinned TRUE)"),
    Query("media_audio_neardup", multimodal.q_media_audio_neardup,
          multimodal.ORACLE_MEDIA_AUDIO_NEARDUP,
          "segment-level audio near-dup (per-window dHash + positional "
          "banded join + segment-majority verify) — r7: theorem oracle "
          "(exact identical-payload pair count + invariants pinned TRUE)"),
    Query("media_phash", multimodal.q_media_phash,
          multimodal.ORACLE_MEDIA_PHASH,
          "perceptual-hash (dHash) media near-dup with theorem gate: "
          "exact identical-payload pair count per modality + "
          "emitted/hamming-bound/canonical invariants pinned TRUE"),
    # --- tokenizer training + sequence assembly ---
    Query("tfidf_keywords", tokenization.q_tfidf_keywords,
          tokenization.ORACLE_TFIDF_KEYWORDS,
          "per-doc top-3 TF-IDF keywords (tf agg + df window + top-k window)"),
    Query("vocab_pairs", tokenization.q_vocab_pairs,
          tokenization.ORACLE_VOCAB_PAIRS,
          "adjacent-pair (bigram) counts — the BPE-merge statistic; "
          "zip_with array algebra, one exchange"),
    Query("corpus_datacard", llmdata.q_corpus_datacard,
          llmdata.ORACLE_CORPUS_DATACARD,
          "per-source dataset datasheet: volume, language mix, exact-dup "
          "rate — one fingerprint window + one rollup"),
    Query("cross_doc_overlap", llmdata.q_cross_doc_overlap,
          llmdata.ORACLE_CROSS_DOC_OVERLAP,
          "cross-document shingle overlap — partial-copy (substring-level) "
          "dedup manifest"),
    Query("heavy_hitters", llmdata.q_heavy_hitters,
          llmdata.ORACLE_HEAVY_HITTERS,
          "count-min-sketch heavy hitters — CMS theorems (overestimate-"
          "only, e/width error bound vs exact counts) oracle-pinned"),
    Query("streaming_heavy_hitters", llmdata.q_streaming_heavy_hitters,
          llmdata.ORACLE_HEAVY_HITTERS,
          "heavy hitters whose CMS is maintained incrementally by the "
          "streaming cms_sink (per-batch sketch partitions, cell-wise "
          "merge); shares the batch oracle — the invariant pair brackets "
          "cross-micro-batch merge bugs (sixth streaming=batch member, "
          "counter-grid state)"),
    Query("recommend_parts", mlqueries.q_recommend_parts,
          mlqueries.ORACLE_RECOMMEND_PARTS,
          "ALS implicit-feedback recommendations — r7: contract oracle "
          "(SQL-exact served-user set; per-user rec count, rank "
          "contiguity, catalog membership, score order pinned TRUE)"),
    Query("negative_samples", mlqueries.q_negative_samples,
          mlqueries.ORACLE_NEGATIVE_SAMPLES,
          "popularity-weighted negative sampling for recommender / "
          "two-tower training (md5-deterministic draw, anti-join against "
          "the user's positives)"),
    Query("dedup_semantic", mlqueries.q_dedup_semantic,
          mlqueries.ORACLE_DEDUP_SEMANTIC,
          "SemDeDup cluster-pruned near-dup drop — r7: contract oracle "
          "(SQL-exact corpus size + exact-droppable count via the "
          "recursive-CTE closure; drop-subset + recall-floor booleans)"),
    Query("pmi_collocations", tokenization.q_pmi_collocations,
          tokenization.ORACLE_PMI_COLLOCATIONS,
          "PMI collocation extraction (broadcast unigram probabilities, "
          "count-threshold not float top-k)"),
    Query("oov_rate", tokenization.q_oov_rate,
          tokenization.ORACLE_OOV_RATE,
          "per-source OOV rate against the top-40 corpus vocabulary "
          "(broadcast vocab membership probe)"),
    Query("bpe_tokenize", tokenization.q_bpe_tokenize,
          tokenization.ORACLE_BPE_TOKENIZE,
          "train-then-apply BPE encode — r7: conservation oracle "
          "(SQL-exact word count + char mass; Spark recomputes the mass "
          "from the encoded stream; roundtrip/vocab-bound pinned TRUE)"),
    Query("bpe_merges", tokenization.q_bpe_merges,
          tokenization.ORACLE_BPE_MERGES,
          "distributed BPE merge training — r7: theorem oracle (SQL-exact "
          "first merge + count-monotonicity/distinctness booleans; full "
          "merge list pinned to a single-process reference in tests)"),
    Query("pack_sequences", tokenization.q_pack_sequences,
          tokenization.ORACLE_PACK_SEQUENCES,
          "greedy fixed-budget sequence packing via running-sum window; "
          "per-bin manifest"),
    Query("pii_redact", shaping.q_pii_redact,
          shaping.ORACLE_PII_REDACT,
          "PII scrub audit: global regex masking of props payload + "
          "per-type removal accounting"),
    Query("streaming_sentiment_summary",
          reference.q_streaming_sentiment_summary,
          reference.ORACLE_SENTIMENT_SUMMARY,
          "the flagship A1 summary computed by Structured Streaming "
          "(identical Column pipeline on a file stream, complete-mode "
          "aggregate, availableNow drain) and verified by the SAME batch "
          "SQL oracle"),
    Query("streaming_hourly_rollup", temporal.q_streaming_hourly_rollup,
          temporal.ORACLE_STREAMING_HOURLY_ROLLUP,
          "hour×type rollup computed by Structured Streaming (file-stream "
          "source, availableNow drain, memory sink) and verified against "
          "plain batch SQL — the streaming≡batch exactly-once check"),
    Query("ccnet_buckets", llmdata.q_ccnet_buckets,
          llmdata.ORACLE_CCNET_BUCKETS,
          "CCNet-style head/middle/tail perplexity-tertile split "
          "(checkpointed per-doc score table, broadcast thresholds)"),
    # --- data-selection extensions (queries/selection.py) ---
    Query("dsir_select", selection.q_dsir_select,
          selection.ORACLE_DSIR_SELECT,
          "DSIR-style importance resampling: hashed-word bucket "
          "distributions, broadcast log-ratio model, sign-based selection"),
    Query("contamination_spans", selection.q_contamination_spans,
          selection.ORACLE_CONTAMINATION_SPANS,
          "span-level benchmark decontamination (positional shingles vs "
          "broadcast benchmark set, island merge — redactable offsets)"),
    Query("dedup_spans", selection.q_dedup_spans,
          selection.ORACLE_DEDUP_SPANS,
          "cross-doc duplicated-span detection (positional shingle table "
          "+ island merge — suffix-array-lite substring dedup)"),
    Query("dedup_rewrite", llmdata.q_dedup_rewrite,
          llmdata.ORACLE_DEDUP_REWRITE,
          "exact-substring dedup as a rewrite: drop every chunk whose "
          "content appeared earlier in global order, reassemble docs "
          "(Lee et al. remove-all-but-first at chunk granularity)"),
    Query("group_sample", selection.q_group_sample,
          selection.ORACLE_GROUP_SAMPLE,
          "deterministic k-per-group sample via md5 shuffle order"),
    Query("tokenizer_fertility", selection.q_tokenizer_fertility,
          selection.ORACLE_TOKENIZER_FERTILITY,
          "per-source tokenizer fertility / bytes-per-piece profile"),
    Query("streaming_segment_engagement",
          star.q_streaming_segment_engagement,
          star.ORACLE_STREAMING_SEGMENT_ENGAGEMENT,
          "stream-static broadcast join (events stream x customer dim) + "
          "complete-mode segment rollup, drained and oracle-verified — "
          "third member of the streaming=batch gate family"),
    # --- semi-structured / VARIANT (queries/semistructured.py) ---
    Query("variant_extract", semistructured.q_variant_extract,
          semistructured.ORACLE_VARIANT_EXTRACT,
          "VARIANT typed path extraction over drifting shapes "
          "(try_variant_get absorbs type drift as NULL)"),
    Query("variant_shred", semistructured.q_variant_shred,
          semistructured.ORACLE_VARIANT_SHRED,
          "LATERAL variant_explode of an open-schema array into a rollup"),
    Query("schema_drift_audit", semistructured.q_schema_drift_audit,
          semistructured.ORACLE_SCHEMA_DRIFT_AUDIT,
          "shape census over an open-schema corpus (presence/type probes)"),
    # --- round-4 additions ---
    Query("char_entropy", llmdata.q_char_entropy,
          llmdata.ORACLE_CHAR_ENTROPY,
          "per-source character-entropy quality profile (Shannon bits/char "
          "over lowercase char counts — the cheap gibberish detector)"),
    Query("training_order", selection.q_training_order,
          selection.ORACLE_TRAINING_ORDER,
          "deterministic global training-order shuffle: exact positions "
          "via the distributed rank operator (oracle-gated on an "
          "unbounded corpus, no single-task window)"),
    # --- round-5 additions ---
    Query("winnowing_fingerprints", selection.q_winnowing_fingerprints,
          selection.ORACLE_WINNOWING_FINGERPRINTS,
          "MOSS winnowing fingerprints (per-window min of k-gram rolling "
          "hashes): guaranteed-recall substring-match index at ~2/(w+1) "
          "the shingle volume, rolled up per source"),
    Query("zipf_slope", llmdata.q_zipf_slope,
          llmdata.ORACLE_ZIPF_SLOPE,
          "per-source Zipf log-log slope over the top word ranks "
          "(REGR_SLOPE aggregate — distributional anomaly signal next to "
          "entropy/repetition)"),
    Query("winnow_containment", selection.q_winnow_containment,
          selection.ORACLE_WINNOW_CONTAINMENT,
          "asymmetric containment candidates from the winnowing index "
          "(doc-inside-doc pairs symmetric Jaccard misses; hot-fingerprint "
          "cap bounds the pairwise stage to fp buckets)"),
    Query("source_overlap", selection.q_source_overlap,
          selection.ORACLE_SOURCE_OVERLAP,
          "source-pair Jaccard over winnowing fingerprint sets — the "
          "cross-source scraping/contamination audit run before mixing "
          "sources into a training run"),
]

# The driver's correctness gate verifies the first 50 entries in registry
# order. The front-50 ROTATES each round so successive driver gates
# cumulatively cover the registry (cumulative through round 7: EVERY
# entry has a green driver row in at least one round — 206/206, zero
# gate failures ever, per the r7 verdict's recomputation). Round 8
# policy, in priority order:
# (1) entries whose Spark query CHANGED or that are NEW this round —
#     `streaming_dedup_embedding_lsh` (the embedding dedup sink's
#     100 TB LSH-blocking mode, new full value oracle),
#     `dedup_embedding_multiband` (OR-of-bands high-recall LSH, new
#     full value oracle), `streaming_dedup_embedding_multiband` (its
#     streaming twin), and bpe_merges/bpe_tokenize (now trained
#     through the provably-sequential batched trainer — same output by
#     construction, gated the round the implementation changed);
# (2) stalest-first (the r7 verdict's #1): the 10 rows whose newest
#     green row is round 3 (sentiment_total … zipf_exponent — the rows
#     the r7 upgrade wave displaced), then the first 35 of the 50
#     round-4 rows alphabetically (ab_test … stats_profile). The
#     remaining 15 round-4 rows (status_priority_sets …
#     winsorized_stats) lead the r9 rotation. Local harnesses still
#     verify the full registry at 3 scale factors each round.
_FRONT = [
    # changed/new this round (gate the round they land)
    "dedup_embedding_multiband", "streaming_dedup_embedding_lsh",
    "streaming_dedup_embedding_multiband",
    "bpe_merges", "bpe_tokenize",
    # stalest: last gated in round 3
    "sentiment_total", "session_funnel", "source_mix",
    "stratified_sample", "streaming_hourly_rollup",
    "streaming_segment_engagement", "streaming_sentiment_summary",
    "trailing_window", "vocab_growth", "zipf_exponent",
    # next-stalest: last gated in round 4 (alphabetical prefix)
    "ab_test", "above_avg_orders", "cohort_ltv", "cohort_overlap",
    "common_paths", "contamination", "conversion_latency",
    "cumulative_unique_users", "curation_funnel", "curation_pipeline",
    "daily_type_pivot", "daily_value_delta", "decayed_engagement",
    "distinct_users_by_type", "embedding_dim_profile",
    "embedding_norm_stats", "equidepth_histogram", "event_transitions",
    "hard_negatives", "integrity_audit", "key_skew_profile", "lang_id",
    "mad_outliers", "nation_segments", "nested_order_docs",
    "props_extract", "props_variant", "pseudonymize_audit", "repetition",
    "rolling_active_users", "schema_drift_audit", "similar_days",
    "snapshot_diff", "source_sample", "stats_profile",
]
_FRONT_ORDER = {name: i for i, name in enumerate(_FRONT)}
_REGISTRY_NAMES = {q.name for q in _ALL}
# A typo or a future rename must fail loudly, not silently demote the entry
# to the back of the sort (the driver gates the first 50 in order).
_unknown = [n for n in _FRONT if n not in _REGISTRY_NAMES]
assert not _unknown, f"_FRONT names not in registry: {_unknown}"
assert len(_FRONT) == len(set(_FRONT)) == 50, "front-50 must be 50 unique"
_ALL.sort(key=lambda q: _FRONT_ORDER.get(q.name, len(_FRONT_ORDER)))

QUERIES: dict[str, Query] = {q.name: q for q in _ALL}


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.builder for name, q in QUERIES.items()}


def get_oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
