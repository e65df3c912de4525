"""Temporal operators Spark lacks natively: as-of join and
sessionization helpers.

The as-of (point-in-time) join is the classic time-series operator — for
each left row, the most recent right row at or before the left timestamp,
per key. Spark has no built-in; the scalable formulation here is a
union + window forward-fill:

    tag left(1)/right(0) rows → union → window per key ordered by
    (ts, tag) → last(right_payload, ignorenulls) → keep left rows

One shuffle total (the window partitioning), no range explosion, no
per-key driver loops — at 100 TB this is a single sort-based exchange, the
same cost class as a sort-merge join on the key. The alternative
(join on key + time-bucket, then max-per-left-row) shuffles twice and
explodes candidate pairs on dense keys.

Determinism: if the right side can carry multiple rows per (key, ts),
pre-aggregate to one (see q_asof_latest_order) — otherwise "last" among
equal timestamps is tie-broken arbitrarily (both here and in DuckDB's
ASOF JOIN).

Skewed keys: a hot key serializes into one window partition, like any
keyed shuffle. Mitigate upstream (filter), or salt the key and as-of join
per salt with boundary patching; AQE does not split window skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(left: DataFrame, right: DataFrame, on: str,
               left_ts: str, right_ts: str,
               direction: str = "backward") -> DataFrame:
    """As-of join: all left columns + right payload columns.

    ``direction="backward"`` (default): right values come from the LATEST
    right row with ``right_ts <= left_ts`` per key; ``"forward"``: from the
    EARLIEST right row with ``right_ts >= left_ts`` (equal timestamps match
    in both — inclusive). Left rows with no matching right row keep nulls
    (left-join semantics). Either direction is ONE sort-exchange: the
    forward case is the same union + window forward-fill scanned in
    descending time order."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    rpayload = [c for c in right.columns if c not in (on, right_ts)]
    clash = sorted(set(rpayload) & set(left.columns))
    if clash:
        raise ValueError(
            f"as_of_join: right payload columns {clash} collide with left "
            f"columns — the result would have ambiguous duplicate names; "
            f"rename the right-side columns before joining")
    left_struct = F.struct(*[F.col(c) for c in left.columns])
    l2 = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        left_struct.alias("__row"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in rpayload],
    )
    r2 = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l2.schema["__row"].dataType).alias("__row"),
        *[F.col(c).alias(f"__r_{c}") for c in rpayload],
    )
    # right rows sort before left at equal ts (__is_left 0 < 1) → inclusive;
    # forward direction scans time DESC so "last right seen" = earliest >=
    order = [F.col("__ts").asc() if direction == "backward"
             else F.col("__ts").desc(), F.col("__is_left").asc()]
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r2.unionByName(l2).select(
        "__is_left", "__row",
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
          for c in rpayload],
    )
    return filled.filter(F.col("__is_left") == 1).select(
        F.col("__row.*"),
        *[F.col(f"__f_{c}").alias(c) for c in rpayload],
    )


def session_rollup(df: DataFrame, key: str, ts: str, gap: str,
                   aggs: list) -> DataFrame:
    """Sessionization of a batch or watermarked stream via Spark's native
    session_window: events for a key belong to one session while each is
    < gap after the previous (window end = last event + gap). One shuffle
    on the key; at scale this is the built-in, state-free form of the
    gaps-and-islands pattern. On a stream (append mode) the session merge
    stays JVM-side in the streaming aggregation, and a session is emitted
    once the watermark passes its end, which also evicts its state."""
    return (
        df.groupBy(F.session_window(F.col(ts), gap).alias("__w"), F.col(key))
        .agg(*aggs)
        .withColumn("session_start", F.col("__w.start"))
        .withColumn("session_end", F.col("__w.end"))
        .drop("__w")
    )


def interval_join(left: DataFrame, right: DataFrame, *,
                  left_ts: str, right_start: str, right_end: str,
                  keys: tuple[str, ...] = (),
                  bucket_seconds: int = 3600) -> DataFrame:
    """Point-in-interval join: each left row matched to every right row
    whose closed interval [right_start, right_end] contains left's
    timestamp (plus equality on ``keys`` if given).

    Naive formulations are O(n·m) theta joins (BroadcastNestedLoopJoin when
    no equi key exists — a non-starter at scale). This uses the banded
    equi-join strategy: each right interval is exploded into the fixed-width
    time buckets it covers, the join runs as a hash equi-join on
    (keys…, bucket), and the exact range predicate filters afterwards. A
    left point lies in exactly one bucket, so no dedup pass is needed.

    Cost: right side grows by ceil(interval/bucket)+1 rows (pick
    ``bucket_seconds`` ≈ the typical interval length so the factor stays
    ≤ ~2); both sides then shuffle once on (keys…, bucket) — the same
    exchange profile as any equi-join, AQE-skew-splittable.

    Bucket index = floor(seconds-since-epoch / bucket_seconds), computed
    with TIMESTAMP_NTZ arithmetic so results are session-timezone-proof.
    """
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

    def bucket_of(col: str):
        return F.floor(
            F.expr(f"timestampdiff(SECOND, {epoch}, {col})")
            / F.lit(bucket_seconds))

    r2 = right.withColumn(
        "__bucket",
        F.explode(F.sequence(bucket_of(right_start), bucket_of(right_end))))
    l2 = left.withColumn("__bucket", bucket_of(left_ts))
    cond = [l2["__bucket"] == r2["__bucket"]]
    for k in keys:
        cond.append(l2[k] == r2[k])
    joined = l2.join(r2, cond, "inner").filter(
        (l2[left_ts] >= r2[right_start]) & (l2[left_ts] <= r2[right_end]))
    keep = [l2[c] for c in left.columns] + [
        r2[c] for c in right.columns if c not in left.columns]
    return joined.select(*keep)
