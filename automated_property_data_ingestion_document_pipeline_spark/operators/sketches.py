"""Mergeable frequency/membership sketches as DataFrames: Count-Min
and Bloom filter, built entirely from JVM expressions (xxhash64 +
bit ops + groupBy) so sketch construction is one aggregation and
sketches merge by summing/OR-ing their cells — the property that lets
per-partition/per-day sketches roll up without touching raw data again.

Complements the distinct-count sketches (approx_count_distinct /
q_hll_shard_merge) and heavy hitters (approx_top_k): Count-Min answers
"how often did THIS key occur" under a fixed memory budget; Bloom
answers "might this key exist" — the manual form of the runtime join
filter, useful when the filter must persist across jobs (Spark's
InjectRuntimeFilter only lives inside one query).

Both sketches keep their guarantees one-sided — Count-Min never
underestimates, Bloom never false-negatives — and the registered keys
measure the other side's error against the exact answer on the same
data, the same self-measuring methodology as the ANN recall keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cell(key: Column, seed: int, width: int) -> Column:
    """Row of hash i: pmod(xxhash64(key, seed_i), width). xxhash64 is a
    deterministic JVM expression — sketches are reproducible across
    runs and clusters."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(width))


def count_min_build(
    df: DataFrame, key: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min sketch of ``key``'s frequency distribution:
    (row, cell, cnt) with depth × width cells. ONE groupBy over the
    exploded (row, cell) pairs — constant ``depth``× fan-out, map-side
    partial counts, output is depth*width rows no matter the input
    size. Sketches over shards merge by summing cnt per (row, cell)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"), _cell(F.col(key), i, width).alias("cell")
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame, queries: DataFrame, key: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-frequency estimates for ``queries[key]``: min over the
    depth cells the key hashes to (classic CM upper bound — estimate >=
    true count always). The sketch side is tiny (depth*width rows) and
    broadcast; each query row probes ``depth`` cells via one exploded
    equi-join, never a scan of the sketched data."""
    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"), _cell(F.col(key), i, width).alias("cell")
            )
            for i in range(depth)
        ]
    )
    q = queries.select(key, F.explode(probes).alias("rc")).select(
        key, F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell")
    )
    return (
        q.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def bloom_build(
    df: DataFrame, key: str, num_bits: int = 1 << 16, num_hashes: int = 5
) -> DataFrame:
    """Bloom filter over distinct ``key`` values as (word, bits) rows —
    64 bits per word, ``num_bits // 64`` words max (absent words are
    all-zero). One aggregation: explode each key to its ``num_hashes``
    bit positions, OR the in-word masks per word with ``bit_or``.
    Filters over shards merge by OR-ing bits per word."""
    positions = F.array(
        *[_cell(F.col(key), 1000 + i, num_bits) for i in range(num_hashes)]
    )
    return (
        df.select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("bigint").alias("word"),
            # pyspark's shiftleft() takes only literal shifts; the SQL
            # form accepts a column expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_might_contain(
    probe: DataFrame,
    bloom: DataFrame,
    key: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> DataFrame:
    """``probe`` plus a ``might_contain`` flag: true iff ALL hash bits
    are set. The filter is broadcast (≤ num_bits/64 rows); each probe
    row checks its ``num_hashes`` words through one exploded equi-join
    + an all-bits aggregation. No false negatives ever; false-positive
    rate ~ (1 - e^(-kn/m))^k, measured by the registered key."""
    positions = F.array(
        *[_cell(F.col(key), 1000 + i, num_bits) for i in range(num_hashes)]
    )
    q = probe.select(key, F.explode(positions).alias("pos")).select(
        key,
        (F.col("pos") / 64).cast("bigint").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
    )
    hit = F.when(
        (F.col("bits").isNotNull())
        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        1,
    ).otherwise(0)
    return (
        q.join(F.broadcast(bloom), "word", "left")
        .select(key, hit.alias("hit"))
        .groupBy(key)
        .agg((F.min("hit") == 1).alias("might_contain"))
    )


# -- KMV (k minimum values) distinct-value sketch -----------------------------

#: Hash domain for KMV: xxhash64 folded into [0, 2^61) so estimates use
#: exact integer minima and only the final ratio is floating point.
KMV_DOMAIN = 1 << 61


def kmv_build(df: DataFrame, key: str, group: str, k: int = 64) -> DataFrame:
    """KMV sketch per group: the ``k`` smallest distinct hash values of
    ``key`` as (group, pos, hv) rows. Unlike HLL, KMV sketches support
    SET OPERATIONS: the union sketch is the k minima of the merged
    rows (:func:`kmv_merge`), and resemblance (Jaccard) falls out of
    comparing union minima against the input sketches. One distinct +
    one ranking window per build; sketch size is k rows per group no
    matter the data."""
    hv = F.pmod(F.xxhash64(F.col(key)), F.lit(KMV_DOMAIN)).alias("hv")
    hashes = df.select(F.col(group).alias("grp"), hv).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("hv")
    return (
        hashes.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("grp", "pos", "hv")
    )


def kmv_merge(*sketches: DataFrame) -> DataFrame:
    """Union of KMV sketches = the k = 64 minima of the concatenated (distinct)
    hash rows — the mergeability that lets per-shard sketches roll up."""
    from functools import reduce

    from pyspark.sql import Window

    allrows = reduce(
        lambda a, b: a.unionAll(b), [s.select("grp", "hv") for s in sketches]
    ).distinct()
    w = Window.partitionBy("grp").orderBy("hv")
    return (
        allrows.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 64)
        .select("grp", "pos", "hv")
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-count estimate per group: if the sketch is saturated
    (holds all k minima), n ≈ (k-1) * DOMAIN / kth_min; if the group
    has fewer than k distinct values the sketch IS the distinct set and
    the count is exact."""
    agg = sketch.groupBy("grp").agg(
        F.count("*").alias("n_in_sketch"), F.max("hv").alias("kth")
    )
    return agg.select(
        "grp",
        F.when(
            F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double")
        )
        .otherwise((F.lit(float(k - 1)) * F.lit(float(KMV_DOMAIN))) / F.col("kth"))
        .alias("est_distinct"),
    )
