"""Table-layout tests: partition pruning actually prunes, and a
bucketed-bucketed join plans with zero shuffle exchanges. Also the
source-scan ratchets that keep each recurring protocol in one module."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from social_media_sentiment_analysis_spark.plans.inspect import (
    exchange_count,
    formatted_plan,
)
from social_media_sentiment_analysis_spark.sources.batch import load_table
from social_media_sentiment_analysis_spark.sources.layout import (
    write_bucketed,
    write_partitioned,
)


def test_spread_scan_spreads_single_file_and_noops_when_parallel(
        spark, sf_dir, tmp_path):
    """The input-skew guard (r9 optimization): a single-row-group file scan
    is spread to the session's shuffle partitions; a scan that already
    carries enough partitions is returned UNCHANGED (no exchange added —
    the production many-file case), and values are preserved either way."""
    from social_media_sentiment_analysis_spark.sources.batch import (
        spread_scan,
    )

    docs = load_table(spark, sf_dir, "documents")
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert docs.rdd.getNumPartitions() < sess_parts  # single-file testdata
    spread = spread_scan(docs)
    assert spread.rdd.getNumPartitions() == sess_parts
    # exchange_count only counts hash/range exchanges; the round-robin
    # spread shows as a RoundRobinPartitioning exchange
    assert "RoundRobinPartitioning" in formatted_plan(spread)
    assert "RoundRobinPartitioning" not in formatted_plan(docs)
    assert (sorted(r.doc_id for r in spread.select("doc_id").collect())
            == sorted(r.doc_id for r in docs.select("doc_id").collect()))

    wide = docs.repartition(sess_parts)
    assert spread_scan(wide) is wide  # no-op: no second exchange


def test_partition_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    write_partitioned(
        load_table(spark, sf_dir, "events"), out, ("event_type",))
    pruned = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = formatted_plan(pruned)
    # the filter must land in PartitionFilters (pruned scan), and the scan
    # must touch only the matching partition directory
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters")[1].split("\n")[0]
    n_click = pruned.count()
    total = spark.read.parquet(out).count()
    assert 0 < n_click < total


@pytest.fixture
def bucketed_tables(spark, sf_dir):
    write_bucketed(load_table(spark, sf_dir, "orders"),
                   "orders_b", "o_custkey", 8, sort_col="o_custkey")
    write_bucketed(load_table(spark, sf_dir, "customer"),
                   "customer_b", "c_custkey", 8, sort_col="c_custkey")
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    orders = spark.table("orders_b")
    customer = spark.table("customer_b")
    # force the shuffle-sensitive path: no broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
        # co-located bucketed join: the only exchange is the final agg's
        assert exchange_count(joined) == 1
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_range_sorted_files_have_disjoint_minmax(spark, sf_dir, tmp_path):
    """write_range_sorted: each output file's parquet footer min/max covers
    a disjoint key slice (verified via pyarrow metadata), so selective
    filters skip files instead of scanning them."""
    import glob

    import pyarrow.parquet as pq

    from social_media_sentiment_analysis_spark.sources.batch import load_table
    from social_media_sentiment_analysis_spark.sources.layout import (
        write_range_sorted,
    )

    out = str(tmp_path / "orders_sorted")
    orders = load_table(spark, sf_dir, "orders")
    write_range_sorted(orders, out, "o_orderkey", n_files=4)

    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) == 4
    ranges = []
    col_idx = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        if col_idx is None:
            col_idx = [md.schema.column(i).name
                       for i in range(md.num_columns)].index("o_orderkey")
        lo = min(md.row_group(g).column(col_idx).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(col_idx).statistics.max
                 for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"
    # roundtrip preserves rows
    assert spark.read.parquet(out).count() == orders.count()


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    from social_media_sentiment_analysis_spark.sources.layout import (
        compact_parquet,
    )

    src = str(tmp_path / "frag")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(64).write.parquet(src)  # simulate micro-batch debris
    before_sum = orders.agg(F.round(F.sum("o_totalprice"), 4)).first()[0]
    n_before, n_after = compact_parquet(spark, src,
                                        target_file_bytes=64 * 1024 * 1024)
    assert n_before >= 64
    assert n_after < n_before and n_after <= 4
    compacted = spark.read.parquet(src)
    assert compacted.count() == orders.count()
    assert compacted.agg(F.round(F.sum("o_totalprice"), 4)).first()[0] \
        == before_sum


def test_compact_parquet_sorted_restores_clustering(spark, sf_dir, tmp_path):
    from social_media_sentiment_analysis_spark.sources.layout import (
        compact_parquet,
    )
    import pyarrow.parquet as pq
    import glob
    import os

    src = str(tmp_path / "frag_sorted")
    lineitem = load_table(spark, sf_dir, "lineitem")
    lineitem.repartition(32).write.parquet(src)
    compact_parquet(spark, src, target_file_bytes=8 * 1024 * 1024,
                    sort_col="l_orderkey")
    ranges = []
    for f in sorted(glob.glob(os.path.join(src, "part-*.parquet"))):
        md = pq.read_metadata(f)
        col = [md.row_group(i).column(0) for i in range(md.num_row_groups)]
        # l_orderkey is the first column in the schema
        mins = [c.statistics.min for c in col]
        maxs = [c.statistics.max for c in col]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges across files


def test_overwrite_partitions_is_scoped_and_idempotent(spark, sf_dir, tmp_path):
    from social_media_sentiment_analysis_spark.sources.layout import (
        overwrite_partitions,
    )

    out = str(tmp_path / "events_by_type_dyn")
    events = load_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "value", "event_type")
    write_partitioned(events, out, ("event_type",))
    before = {r["event_type"]: r["n"] for r in
              spark.read.parquet(out).groupBy("event_type")
              .agg(F.count("*").alias("n")).collect()}

    # backfill ONE partition with a halved slice; siblings must be untouched
    patch = (events.filter(F.col("event_type") == "click")
             .filter(F.col("event_id") % 2 == 0))
    expected_click = patch.count()
    overwrite_partitions(patch, out, ("event_type",))
    after = {r["event_type"]: r["n"] for r in
             spark.read.parquet(out).groupBy("event_type")
             .agg(F.count("*").alias("n")).collect()}
    assert after["click"] == expected_click
    assert {k: v for k, v in after.items() if k != "click"} == \
           {k: v for k, v in before.items() if k != "click"}

    # idempotent: re-running the same backfill changes nothing
    overwrite_partitions(patch, out, ("event_type",))
    again = {r["event_type"]: r["n"] for r in
             spark.read.parquet(out).groupBy("event_type")
             .agg(F.count("*").alias("n")).collect()}
    assert again == after


def _source_hits(banned: str, owner: str,
                 allowed: frozenset = frozenset()) -> list[str]:
    """Every match of ``banned`` in a package module other than ``owner``
    (a path relative to the package root), minus (module, match) pairs in
    ``allowed`` — the scan behind the one-owner ratchets below."""
    import re

    import social_media_sentiment_analysis_spark as pkg

    root = os.path.dirname(pkg.__file__)
    pattern = re.compile(banned)
    hits = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            rel = os.path.relpath(os.path.join(dirpath, name), root) \
                .replace(os.sep, "/")
            if not name.endswith(".py") or rel == owner:
                continue
            with open(os.path.join(dirpath, name)) as f:
                for n, line in enumerate(f, 1):
                    hits += [f"{rel}:{n}: {line.strip()}"
                             for m in pattern.finditer(line)
                             if (rel, m.group()) not in allowed]
    return hits


def test_commit_protocol_lives_only_in_layout():
    """Ratchet: directory swaps, renames and dynamic partition overwrites
    are the plain-parquet commit protocol, which lives in
    ``sources/layout.py`` (``staged_swap``, ``overwrite_partitions``,
    ``replace_batch_partition``). Any other package module that writes
    one is a re-forked copy. The single-file ``os.replace`` spool commit
    in ``sources/poll.py`` is the one allowed exception."""
    hits = _source_hits(r"partitionOverwriteMode|os\.rename|os\.replace"
                        r"|shutil\.move|\.rename\(", "sources/layout.py",
                        frozenset({("sources/poll.py", "os.replace")}))
    assert not hits, hits


def test_concurrent_arms_live_only_in_session():
    """Ratchet: independent job arms run through
    ``session.run_concurrently``, the one place that wraps pool threads in
    ``inheritable_thread_target`` (so harness cancellation reaches every
    arm). Any other package module with its own pool is a re-forked copy
    that can drop the wrapper."""
    hits = _source_hits(r"ThreadPoolExecutor|inheritable_thread_target",
                        "session.py")
    assert not hits, hits


def test_strictly_earlier_read_lives_only_in_layout():
    """Ratchet: the store probe's ``batch_id < N`` filter is the rule that
    makes cross-batch discovery exactly-once; it lives in
    ``sources/layout.py::earlier_partitions``. A sink that writes its own
    copy can drift to ``!=`` or lose the seed partition."""
    hits = _source_hits(r"< F\.lit\(batch_id\)", "sources/layout.py")
    assert not hits, hits


def test_available_now_trigger_lives_only_in_sinks():
    """Ratchet: every availableNow drain starts through
    ``streaming/sinks.py::run_available_now``."""
    hits = _source_hits(r"availableNow=True", "streaming/sinks.py")
    assert not hits, hits


def test_scratch_dirs_live_only_in_pipeline():
    """Ratchet: scratch roots for drains are opened by
    ``streaming/pipeline.py`` (``drain_through_store``,
    ``drain_stream_to_parquet``), which delete them even when the drain
    raises. Any other module's ``mkdtemp`` is a hand-copied drain."""
    hits = _source_hits(r"mkdtemp|TemporaryDirectory",
                        "streaming/pipeline.py")
    assert not hits, hits


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A filter on a joined dim must prune the fact's partition directories
    at runtime (DPP) — the mechanism that makes dim-filtered star joins
    read a fraction of a date/category-partitioned 100 TB fact table even
    though the fact-side predicate is only known at run time."""
    from social_media_sentiment_analysis_spark.plans.inspect import (
        formatted_plan,
    )

    out = str(tmp_path / "events_part")
    write_partitioned(
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "event_type"),
        out, ("event_type",))
    fact = spark.read.parquet(out)
    # the dim predicate must be on a NON-key attribute: a literal filter on
    # the join key itself propagates to the fact as a STATIC partition
    # filter (constraint propagation) and DPP never needs to fire. Keep the
    # most frequent event type(s) — knowable only at runtime.
    counts = (load_table(spark, sf_dir, "events")
              .groupBy("event_type").agg(F.count("*").alias("n")))
    th = max(r["n"] for r in counts.collect())
    dim = counts.filter(F.col("n") >= th).select("event_type", "n")
    joined = fact.join(dim, "event_type")
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    n = joined.count()
    total = fact.count()
    assert 0 < n < total


def test_zorder_prunes_on_second_dimension(spark, sf_dir, tmp_path):
    """Morton clustering must give footer-stats pruning on BOTH columns:
    a selective filter on the column a single-column sort ignores should
    skip most z-ordered files, while the single-column layout can skip
    none of them."""
    import pyarrow.parquet as pq

    from social_media_sentiment_analysis_spark.sources.layout import (
        write_range_sorted, write_zordered,
    )

    events = load_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "value")
    z_out = str(tmp_path / "z")
    s_out = str(tmp_path / "s")
    write_zordered(events, z_out, "user_id", "value", n_files=16)
    write_range_sorted(events, s_out, "user_id", n_files=16)

    lo, hi = events.agg(F.min("value"), F.max("value")).collect()[0]
    # mid-high slab (50-60% of the range): sparse — a few dozen rows
    # scattered uniformly across users, so the user-sorted layout cannot
    # skip them — but populated enough that the test is not about one row.
    # (The bottom-heavy value distribution means a low slab is unprunable
    # at this file count: quantile partitioning puts most files there.)
    box_lo = lo + (hi - lo) * 0.5
    box_hi = lo + (hi - lo) * 0.6

    def candidates(path):
        cand = total = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index("value")
            mins = [md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)]
            if min(mins) <= box_hi and max(maxs) >= box_lo:
                cand += 1
        return cand, total

    z_cand, z_total = candidates(z_out)
    s_cand, s_total = candidates(s_out)
    assert z_total >= 8 and s_total >= 8
    # single-column layout: value is scattered → essentially no skipping
    assert s_cand >= s_total - 3
    # z-order: most files' value range misses the slab
    assert z_cand < s_cand
    assert z_cand <= z_total // 4
    # and the data survives the rewrite intact
    assert spark.read.parquet(z_out).count() == events.count()


class TestApplyChanges:
    """CDC merge on partitioned parquet: scoped rewrite, idempotency,
    untouched partitions left byte-identical."""

    def _seed(self, spark, path):
        from social_media_sentiment_analysis_spark.sources.layout import (
            write_partitioned,
        )
        base = spark.createDataFrame(
            [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0),
             (3, "2024-01-02", 30.0), (4, "2024-01-03", 40.0)],
            "id long, day string, v double")
        write_partitioned(base, path, ("day",))

    def test_merge_updates_inserts_deletes_scoped(self, spark, tmp_path):
        import os

        from social_media_sentiment_analysis_spark.sources.layout import (
            apply_changes,
        )

        path = str(tmp_path / "t")
        self._seed(spark, path)
        untouched_dir = os.path.join(path, "day=2024-01-03")
        before = sorted(os.listdir(untouched_dir))
        before_mtimes = {f: os.path.getmtime(os.path.join(untouched_dir, f))
                         for f in before}

        changes = spark.createDataFrame(
            [(2, "2024-01-01", 21.0, "U", 1),   # update
             (3, "2024-01-02", 0.0, "D", 1),    # delete
             (5, "2024-01-02", 50.0, "I", 1),   # insert
             (5, "2024-01-02", 55.0, "U", 2)],  # later change wins
            "id long, day string, v double, op string, seq long")
        apply_changes(spark, path, changes, keys=("id",),
                      partition_col="day", seq_col="seq")

        # partition values read back type-inferred (DateType) — compare str
        got = {(r.id): (str(r.day), r.v)
               for r in spark.read.parquet(path).collect()}
        assert got == {1: ("2024-01-01", 10.0), 2: ("2024-01-01", 21.0),
                       4: ("2024-01-03", 40.0), 5: ("2024-01-02", 55.0)}
        # untouched partition not rewritten
        after = sorted(os.listdir(untouched_dir))
        assert after == before
        assert all(os.path.getmtime(os.path.join(untouched_dir, f))
                   == before_mtimes[f] for f in after)

    def test_reapply_is_idempotent(self, spark, tmp_path):
        from social_media_sentiment_analysis_spark.sources.layout import (
            apply_changes,
        )

        path = str(tmp_path / "t")
        self._seed(spark, path)
        changes = spark.createDataFrame(
            [(2, "2024-01-01", 21.0, "U", 1), (3, "2024-01-02", 0.0, "D", 1)],
            "id long, day string, v double, op string, seq long")
        for _ in range(2):
            apply_changes(spark, path, changes, keys=("id",),
                          partition_col="day", seq_col="seq")
        got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
        assert got == [(1, 10.0), (2, 21.0), (4, 40.0)]


class TestVersionedWrites:
    def test_time_travel_and_pointer_commit(self, spark, tmp_path):
        from social_media_sentiment_analysis_spark.sources.layout import (
            prune_versions, read_version, write_version,
        )

        path = str(tmp_path / "t")
        v1 = write_version(
            spark.createDataFrame([(1, "a")], "id long, s string"), path)
        v2 = write_version(
            spark.createDataFrame([(1, "a2"), (2, "b")],
                                  "id long, s string"), path)
        assert (v1, v2) == (1, 2)
        assert read_version(spark, path).count() == 2          # latest
        assert read_version(spark, path, 1).count() == 1       # time travel

        v3 = write_version(
            spark.createDataFrame([(9, "z")], "id long, s string"), path)
        pruned = prune_versions(path, keep=2)
        assert pruned == [1]
        assert read_version(spark, path, 2).count() == 2       # kept
        assert [r.id for r in read_version(spark, path).collect()] == [9]
        assert v3 == 3


class TestCatalogStats:
    """ANALYZE-backed catalog statistics: the CBO's input. Pins that (a)
    column stats land in the catalog, (b) EXPLAIN COST sees the true
    rowCount (file-size guessing replaced by real cardinality)."""

    def test_analyze_feeds_cbo_row_counts(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.sources.layout import (
            register_with_stats,
        )

        try:
            register_with_stats(
                spark, sf_dir, ["nation"],
                stat_columns={"nation": ["n_nationkey", "n_regionkey"]})
            desc = spark.sql(
                "DESCRIBE EXTENDED nation n_nationkey").collect()
            info = {r.info_name: r.info_value for r in desc}
            assert info.get("distinct_count") not in (None, "NULL")
            assert info.get("max") == "24"
            spark.conf.set("spark.sql.cbo.enabled", "true")
            cost = spark.sql(
                "EXPLAIN COST SELECT * FROM nation").collect()[0][0]
            assert "rowCount=25" in cost
            # idempotent re-registration must not fail or duplicate
            register_with_stats(spark, sf_dir, ["nation"])
        finally:
            spark.conf.set("spark.sql.cbo.enabled", "false")
            spark.sql("DROP TABLE IF EXISTS nation")


class TestIncrementalRollup:
    """Incremental aggregate maintenance: refresh == full recompute, and
    only touched day partitions are rewritten."""

    def test_corrupt_state_fails_refresh_not_silently_rebuilds(
            self, spark, tmp_path):
        """A read failure over an EXISTING store must propagate: treating
        it as first-build would overwrite the touched day partitions with
        delta-only state and permanently lose accumulated counts."""
        import pytest as _pytest

        from social_media_sentiment_analysis_spark.operators.incremental import (
            refresh_daily_rollup,
        )

        path = tmp_path / "roll"
        path.mkdir()
        (path / "part-00000.parquet").write_bytes(b"NOT PARQUET")
        delta = spark.createDataFrame(
            [("2024-03-01 10:00:00", "click", 1.0)],
            "ts string, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        with _pytest.raises(Exception):
            refresh_daily_rollup(spark, str(path), delta)

    def test_refresh_matches_full_recompute_and_scopes_writes(
            self, spark, sf_dir, tmp_path):
        import os

        from social_media_sentiment_analysis_spark.operators.incremental import (
            daily_rollup_state, read_daily_rollup, refresh_daily_rollup,
        )
        from social_media_sentiment_analysis_spark.sources.batch import (
            load_table,
        )

        events = load_table(spark, sf_dir, "events")
        split_day = events.select(
            F.date_add(F.min(F.to_date("ts")), 3)).collect()[0][0]
        early = events.filter(F.to_date("ts") <= F.lit(split_day))
        late = events.filter(F.to_date("ts") >= F.lit(split_day))  # overlap

        path = str(tmp_path / "rollup")
        days1 = refresh_daily_rollup(spark, path, early)
        assert str(split_day) in days1

        def snapshot(df):
            return {(str(r.day), r.event_type):
                    (r.n_events, round(r.sum_value, 4),
                     r.min_value, r.max_value)
                    for r in df.collect()}

        assert snapshot(spark.read.parquet(path)) == \
            snapshot(daily_rollup_state(early))

        # files of an untouched (early-only) day partition must not move
        untouched = sorted(d for d in os.listdir(path)
                           if d.startswith("day=") and
                           d < f"day={split_day}")[0]
        before = {f: os.path.getmtime(f"{path}/{untouched}/{f}")
                  for f in os.listdir(f"{path}/{untouched}")
                  if f.endswith(".parquet")}

        days2 = refresh_daily_rollup(spark, path, late)
        assert str(split_day) in days2 and untouched.split("=")[1] not in days2
        after = {f: os.path.getmtime(f"{path}/{untouched}/{f}")
                 for f in os.listdir(f"{path}/{untouched}")
                 if f.endswith(".parquet")}
        assert before == after

        # merged state == one-shot rollup over ALL events (incl. the
        # double-counted overlap day, which refresh must ADD, so feed the
        # union with the overlap duplicated to the full recompute too)
        full = daily_rollup_state(early.unionByName(late))
        assert snapshot(spark.read.parquet(path)) == snapshot(full)
        # derived average exists and is consistent
        row = read_daily_rollup(spark, path).limit(1).collect()[0]
        assert abs(row.avg_value - row.sum_value / row.n_events) < 1e-12


class TestValidatedWrite:
    """CHECK-constrained writes: single-pass observed validation, staged
    swap, target untouched on failure."""

    def test_valid_write_lands_with_zero_counts(self, spark, sf_dir,
                                                tmp_path):
        from social_media_sentiment_analysis_spark.sources.layout import (
            write_validated,
        )

        orders = load_table(spark, sf_dir, "orders")
        out = str(tmp_path / "orders_checked")
        counts = write_validated(orders, out, {
            "positive_price": F.col("o_totalprice") > 0,
            "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
        })
        assert counts == {"positive_price": 0, "known_status": 0}
        assert spark.read.parquet(out).count() == orders.count()

    def test_violation_aborts_and_preserves_target(self, spark, sf_dir,
                                                   tmp_path):
        import os

        import pytest as _pytest

        from social_media_sentiment_analysis_spark.sources.layout import (
            write_validated,
        )

        orders = load_table(spark, sf_dir, "orders")
        out = str(tmp_path / "orders_checked")
        write_validated(orders.limit(10), out,
                        {"positive_price": F.col("o_totalprice") > 0})
        before = sorted(os.listdir(out))
        with _pytest.raises(ValueError, match="impossible_price"):
            write_validated(orders, out, {
                "impossible_price": F.col("o_totalprice") > 1e12,
            })
        # target untouched; no staging debris
        assert sorted(os.listdir(out)) == before
        assert spark.read.parquet(out).count() == 10
        assert not [d for d in os.listdir(tmp_path)
                    if d.startswith("orders_checked.staging")]


class TestWinnowingIndex:
    """r5 verdict #3: the winnowing fingerprint index persisted once as a
    bucketed catalog artifact, with the three consumers reading it back."""

    @pytest.fixture(scope="class")
    def winnow_index(self, spark, sf_dir):
        from social_media_sentiment_analysis_spark.queries.selection import (
            index_winnowing,
        )

        tables = index_winnowing(spark, sf_dir, prefix="t_winnow_idx")
        yield tables
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_containment_from_index_matches_rebuild(self, spark, sf_dir,
                                                    winnow_index):
        from social_media_sentiment_analysis_spark.queries.selection import (
            q_winnow_containment,
            winnow_containment_from_index,
        )

        fps_table, stats_table = winnow_index
        got = winnow_containment_from_index(
            spark, fps_table, stats_table).collect()
        want = q_winnow_containment(spark, sf_dir).collect()
        assert got == want and len(want) > 0

    def test_source_overlap_from_index_matches_rebuild(self, spark, sf_dir,
                                                       winnow_index):
        from social_media_sentiment_analysis_spark.queries.selection import (
            q_source_overlap,
            source_overlap_from_index,
        )

        fps_table, _ = winnow_index
        got = source_overlap_from_index(spark, fps_table).collect()
        want = q_source_overlap(spark, sf_dir).collect()
        assert got == want and len(want) > 0

    def test_fingerprints_from_index_matches_rebuild(self, spark, sf_dir,
                                                     winnow_index):
        from social_media_sentiment_analysis_spark.queries.selection import (
            q_winnowing_fingerprints,
            winnowing_fingerprints_from_index,
        )

        _, stats_table = winnow_index
        got = winnowing_fingerprints_from_index(spark, stats_table).collect()
        want = q_winnowing_fingerprints(spark, sf_dir).collect()
        assert got == want and len(want) > 0

    def test_index_layout_eliminates_fp_exchanges(self, spark, winnow_index):
        """The point of bucketing by fp: the fp-frequency window and the
        fp self-join consume the bucket layout, so NO exchange in the
        from-index containment plan partitions on fp — the only hash
        exchanges left are doc-keyed (size window, pair aggregate)."""
        import re

        from social_media_sentiment_analysis_spark.plans.inspect import (
            physical_plan,
        )
        from social_media_sentiment_analysis_spark.queries.selection import (
            winnow_containment_from_index,
        )

        fps_table, stats_table = winnow_index
        plan = physical_plan(
            winnow_containment_from_index(spark, fps_table, stats_table))
        fp_exchanges = [
            m for m in re.findall(
                r"Exchange hashpartitioning\(([^)]*)\)", plan)
            if re.search(r"\bfp#", m)]
        assert not fp_exchanges, plan[:2000]
        assert "Bucketed: true" in plan and "Bucketed: false" not in plan


class TestIncrementalBucketedStore:
    def test_reregistration_honors_on_disk_bucket_spec(self, spark,
                                                       tmp_path):
        """A fresh session re-registering a store from its files must use
        the bucket spec the files were WRITTEN with (_store_meta.json),
        never the caller's default — a mismatched registration would make
        bucketed reads silently wrong."""
        from social_media_sentiment_analysis_spark.sources.layout import (
            open_store, replace_store_partition, store_table_name,
        )

        loc = str(tmp_path / "store")
        df = spark.range(100).select(
            F.md5(F.col("id").cast("string")).alias("h"),
            F.col("id").alias("doc_id"))
        replace_store_partition(spark, df, loc, 0, "h", n_buckets=4)
        table = store_table_name(loc)
        # simulate a session restart: catalog entry gone, files remain
        spark.sql(f"DROP TABLE {table}")
        got = open_store(spark, loc, "h", n_buckets=16)  # wrong default
        assert got == table
        create = spark.sql(f"SHOW CREATE TABLE {table}").first()[0]
        assert "4 BUCKETS" in create, create
        # and the data still reads back whole through the table
        assert spark.table(table).count() == 100
        spark.sql(f"DROP TABLE {table}")

    def test_replace_is_idempotent_and_sweeps_stale(self, spark, tmp_path):
        """Re-writing batch N replaces its partition exactly; partitions
        above N (stale futures from a divergent replay) are swept; seed
        partitions (batch_id=-1) replace only themselves."""
        from social_media_sentiment_analysis_spark.sources.layout import (
            replace_store_partition, store_table_name,
        )

        loc = str(tmp_path / "store")

        def mk(lo, hi):
            return spark.range(lo, hi).select(
                F.md5(F.col("id").cast("string")).alias("h"),
                F.col("id").alias("doc_id"))

        replace_store_partition(spark, mk(0, 10), loc, 0, "h", n_buckets=4)
        replace_store_partition(spark, mk(10, 20), loc, 1, "h", n_buckets=4)
        replace_store_partition(spark, mk(20, 30), loc, 2, "h", n_buckets=4)
        table = store_table_name(loc)
        assert spark.table(table).count() == 30
        # seed replaces only itself, twice — idempotent, batches untouched
        replace_store_partition(spark, mk(100, 140), loc, -1, "h",
                                n_buckets=4)
        replace_store_partition(spark, mk(100, 140), loc, -1, "h",
                                n_buckets=4)
        assert spark.table(table).count() == 70
        # replaying batch 1 replaces its own partition AND sweeps batch 2
        replace_store_partition(spark, mk(10, 15), loc, 1, "h", n_buckets=4)
        left = {r.batch_id for r in
                spark.table(table).select("batch_id").distinct().collect()}
        assert left == {-1, 0, 1}
        assert spark.table(table).count() == 40 + 10 + 5
        spark.sql(f"DROP TABLE {table}")

    def test_earlier_partitions_reads_strictly_earlier_and_seed(
            self, spark, tmp_path):
        """The probe read for batch N sees exactly the partitions below N
        — the ``batch_id=-1`` seed included, N itself and later ones
        excluded — and ``None`` while the store does not exist."""
        from social_media_sentiment_analysis_spark.sources.layout import (
            earlier_partitions, replace_store_partition, store_table_name,
        )

        loc = str(tmp_path / "store")
        assert earlier_partitions(spark, loc, "h", 1, n_buckets=4) is None
        for bid in (-1, 0, 1, 2):
            replace_store_partition(
                spark, spark.range(1).select(
                    F.lit(f"h{bid}").alias("h"),
                    F.lit(bid).cast("long").alias("doc_id")),
                loc, bid, "h", n_buckets=4)
        got = earlier_partitions(spark, loc, "h", 1, n_buckets=4)
        assert sorted((r.doc_id, r.batch_id) for r in got.collect()) \
            == [(-1, -1), (0, 0)]
        spark.sql(f"DROP TABLE {store_table_name(loc)}")


class TestIncrementalWinnowIndex:
    def test_append_equals_rebuild(self, spark, sf_dir):
        """Incremental index maintenance: building the winnowing index on
        half the corpus and appending the other half must be
        indistinguishable from the full rebuild — same containment pairs,
        same per-doc stats, and the appended files keep the bucketed
        zero-fp-exchange plan."""
        import re

        from social_media_sentiment_analysis_spark.plans.inspect import (
            physical_plan,
        )
        from social_media_sentiment_analysis_spark.queries.selection import (
            index_winnowing, index_winnowing_append,
            winnow_containment_from_index,
        )

        docs = load_table(spark, sf_dir, "documents")
        mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
        first = docs.filter(F.col("doc_id") <= mid)
        rest = docs.filter(F.col("doc_id") > mid)

        full = index_winnowing(spark, sf_dir, prefix="t_full_widx")
        try:
            # incremental: seed with the first half via the rebuild path
            # (pointed at a temp view of the subset), then append the rest
            inc_fps, inc_stats = "t_inc_widx_fps", "t_inc_widx_doc_stats"
            from social_media_sentiment_analysis_spark.queries import (
                selection as sel,
            )
            stream = sel.winnowing_window_minima(
                first, "text", "doc_id", k=sel._WINNOW_K, w=sel._WINNOW_W
            ).localCheckpoint()
            src = first.select("doc_id", "source")
            from social_media_sentiment_analysis_spark.sources.layout import (
                write_bucketed,
            )
            write_bucketed(
                stream.select("doc_id", "fp").distinct().join(src, "doc_id"),
                inc_fps, "fp", num_buckets=16, sort_col="fp")
            (stream.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_windows"),
                  F.count_distinct("fp").alias("n_fps"))
             .join(src, "doc_id")
             .write.mode("overwrite").saveAsTable(inc_stats))
            index_winnowing_append(spark, rest, prefix="t_inc_widx")

            try:
                want = sorted(map(tuple, winnow_containment_from_index(
                    spark, *full).collect()))
                got = sorted(map(tuple, winnow_containment_from_index(
                    spark, inc_fps, inc_stats).collect()))
                assert got == want and want            # identical pairs
                # stats identical too
                a = sorted(map(tuple, spark.table(full[1]).collect()))
                b = sorted(map(tuple, spark.table(inc_stats).collect()))
                assert a == b
                # appended files keep the bucketed zero-fp-exchange plan
                plan = physical_plan(winnow_containment_from_index(
                    spark, inc_fps, inc_stats))
                fp_ex = [m for m in re.findall(
                    r"Exchange hashpartitioning\(([^)]*)\)", plan)
                    if re.search(r"\bfp#", m)]
                assert not fp_ex
                assert "Bucketed: true" in plan
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {inc_fps}")
                spark.sql(f"DROP TABLE IF EXISTS {inc_stats}")
        finally:
            for t in full:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
