"""Time-series analytics operators (the reference delegates these to
external tools — README.md:24-25; here they are first-class, built from
Spark windows/aggregations so Catalyst plans them).

All operators take/return DataFrames and are key-partitioned: each
window/group partitions by the series key, so at 100 TB the shuffle is
one hash exchange on the key and every operator after it reuses that
partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def resample(
    df: DataFrame,
    key: str,
    ts: str,
    *,
    unit: str = "hour",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling-window downsample: one hash aggregation on (key, bucket).

    ``ts`` must be a TimestampType column; ``unit`` is a date_trunc unit.
    Partial (map-side) aggregation makes this shuffle only one row per
    (key, bucket) per input partition — the right shape at 100 TB.
    """
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("n")]
    bucket = F.date_trunc(unit, F.col(ts)).alias("bucket")
    return df.groupBy(F.col(key), bucket).agg(*aggs)


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    *,
    gap: str = "30 minutes",
) -> DataFrame:
    """Assign session ids per key: a new session starts when the gap from
    the previous event exceeds ``gap``.

    Classic lag + running-sum formulation: two window passes over the
    same (key, ts) partitioning — a single shuffle.
    """
    w = Window.partitionBy(key).orderBy(ts)
    gap_expr = F.expr(f"INTERVAL {gap}")
    new_sess = (
        F.when(F.lag(ts).over(w).isNull(), F.lit(1))
        .when(F.col(ts) > F.lag(ts).over(w) + gap_expr, F.lit(1))
        .otherwise(F.lit(0))
    )
    return df.withColumn("session_id", F.sum(new_sess).over(w))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_ns: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """As-of join: for each left row, the newest right row with
    ``right_ts <= left_ts`` (``<`` when strict) for the same ``on`` key.

    Spark has no native as-of join; the scalable formulation is the
    union trick: tag both sides, union, and carry the latest right
    payload forward with ``last(..., ignorenulls)`` over a single
    (key, ts) window — ONE shuffle on the key, no pairwise range join,
    no row explosion, skew-safe under AQE. (A naive non-equi join is
    O(n*m) per key; ``merge_asof`` via applyInPandas pays Python/Arrow
    transfer — this stays wholly JVM-side.)
    """
    left_cols = list(left.columns)
    # at equal ts a right row must sort BEFORE a left row so the left row
    # sees it (<=); strict mode flips the side order so it does not (<).
    left_side, right_side = (0, 1) if strict else (1, 0)
    rpay = F.struct(*[F.col(c) for c in right_cols], F.col(right_ts).alias("__rts"))
    lpay = F.struct(*[F.col(c) for c in left_cols])
    r2 = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(right_side).alias("__side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{t}" for c, t in left.select(*left_cols).dtypes) + ">"
        ).alias("__lpay"),
        rpay.alias("__rpay"),
    )
    l2 = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(left_side).alias("__side"),
        lpay.alias("__lpay"),
        F.lit(None).cast(r2.schema["__rpay"].dataType).alias("__rpay"),
    )
    u = r2.unionByName(l2)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = u.withColumn("__match", F.last("__rpay", ignorenulls=True).over(w)).filter(
        F.col("__side") == left_side
    )
    if tolerance_ns is not None:
        out = out.withColumn(
            "__match",
            F.when(
                F.col("__match").isNotNull()
                & (F.col("__ts") - F.col("__match.__rts") <= F.lit(tolerance_ns)),
                F.col("__match"),
            ),
        )
    return out.select(
        *[F.col(f"__lpay.{c}").alias(c) for c in left_cols],
        *[F.col(f"__match.{c}").alias(c) for c in right_cols],
        F.col("__match.__rts").alias("asof_ts"),
    )
