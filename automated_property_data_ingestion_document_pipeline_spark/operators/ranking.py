"""Scalable global ranking: range-repartition → local row_number →
broadcast offsets, plus exact NTILE bucketing derived from that rank.

A bare ``row_number() OVER (ORDER BY …)`` collapses the whole table
into ONE task — the classic 100 TB scale-killer. The technique here
(first used inline by q_global_rownum / q_sorted_neighborhood) keeps
every step parallel: range partitioning gives globally ordered
partitions, ranks are computed per partition, and the per-partition
row counts (a tiny driver-side table, one row per partition) become
broadcast offsets. The output is provably invariant to partition
boundary placement (pinned by tests/test_property_r4.py), so the
sampling nondeterminism inside ``repartitionByRange`` cannot leak
into results.

``ntile_expr`` reproduces SQL NTILE(k) semantics EXACTLY from a
1-based global rank with pure integer arithmetic: with n rows,
q = n // k and r = n % k, the first r buckets get q+1 rows. This lets
any ranked table be quantile-bucketed without a single-task window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.lineage import cut_lineage


def _range_width(df: DataFrame, num_partitions: "int | None") -> int:
    """Range-pass width: the caller's explicit value, else
    ``max(8, defaultParallelism // 4)`` — 8 on any local dev box
    (32 cores // 4 = 8, and the floor holds below that), so bench
    numbers are unchanged, while a large cluster gets a proportional
    width instead of the r04-vintage hard 8 (which at 100 TB would
    force 8 giant sorts regardless of cluster size — the same
    scale-adaptivity rule as session.tune's shuffle partitions)."""
    if num_partitions is not None:
        return num_partitions
    return max(8, df.sparkSession.sparkContext.defaultParallelism // 4)


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rn",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """Append a 1-based global ROW_NUMBER over ``order_cols`` without a
    single-task window. ``order_cols`` must be a deterministic total
    order (include a unique tiebreaker column last). The output is
    provably invariant to partition-boundary placement (pinned by
    tests/test_property_r4.py), so the width never changes results."""
    parts = (
        df.repartitionByRange(_range_width(df, num_partitions), *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = parts.withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    )
    # CRITICAL: the offsets aggregate and the final join BOTH consume
    # ``local``. Without a lineage cut each subtree re-evaluates
    # repartitionByRange, whose boundaries come from an independent
    # SAMPLE — the two evaluations can disagree on _pid and the ranks
    # silently corrupt (duplicates + gaps; caught by the equi-depth
    # histogram at sf0.01). A lazy localCheckpoint materializes the
    # partitioning once and shares it.
    local = cut_lineage(local, eager=False, durable=False)
    offsets = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("_cnt"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, F.col("_lrn") + F.col("_offset"))
        .drop("_pid", "_lrn", "_offset")
    )


def _idiv(a: Column, b: Column) -> Column:
    """True integral division (Spark's ``div`` operator) — no float
    intermediate, so the result is exact by construction for the whole
    bigint domain instead of depending on IEEE-rounding analysis
    (ADVICE r04: the double-divide-then-cast form was the one float op
    in an otherwise integer-only operator family)."""
    return F.call_function("div", a.cast("bigint"), b.cast("bigint"))


def ntile_expr(rank: Column, n: Column, k: int) -> Column:
    """Exact NTILE(k) bucket (1-based) from a 1-based global rank and
    total row count ``n`` — integer-only, matches SQL NTILE semantics:
    the first n%k buckets hold n//k + 1 rows each."""
    q = _idiv(n, F.lit(k))  # n DIV k
    r = n % k
    cut = r * (q + 1)
    return (
        F.when(rank <= cut, _idiv(rank - 1, q + 1) + 1)
        .otherwise(r + _idiv(rank - cut - 1, F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    sum_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """Append the INCLUSIVE running sum of ``sum_col`` in ``order_cols``
    order — the scalable twin of ``SUM(x) OVER (ORDER BY …)``, built
    the same way as :func:`global_rank`: range-partition on the order,
    local cumulative sums, then per-partition totals broadcast as
    offsets. Every stage is parallel; the offsets table has one row per
    partition. ``order_cols`` must be a total order for a deterministic
    result (exclusive prefix = inclusive − current value)."""
    parts = (
        df.repartitionByRange(_range_width(df, None), *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = parts.withColumn(
        "_lsum",
        F.sum(sum_col).over(
            Window.partitionBy("_pid")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # Same double-evaluation hazard as global_rank: pin ONE sampled
    # partitioning for both the offsets aggregate and the final join.
    local = cut_lineage(local, eager=False, durable=False)
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(sum_col).alias("_tot"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_tot").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_lsum") + F.col("_offset")).cast("bigint"))
        .drop("_pid", "_lsum", "_offset")
    )
