"""Fan-out for CPU-bound row-local stages (r13 optimization).

Every corpus table ships as ONE parquet file with ONE row group, so a bare
scan plans exactly one task — and every encode→decode lane (PDF/DOCX/ZIP
render+extract, JPEG/PNG/GIF/BMP/TIFF/FLAC/AVI codecs, the letter
roundtrip) serialized its per-row Python CPU on a single core of a 32-core
machine. That is guide §2.5's "input skew: one huge unsplittable file —
repartition immediately after the read", measured at 10+ seconds of
single-core decode across the headline set (OPTIMIZATION_r13.md).

:func:`fan_out` inserts a round-robin repartition ahead of the decode
stage. The decode lanes feed the Python stage *scalar proxies only* (doc
ids, composed letter text — payload bytes are derived or decoded INSIDE
the stage), so the exchange moves a few KB at bench scale and stays a
rounding error at any scale, while the stage gains cluster-width
parallelism. The width is ``sc.defaultParallelism`` — the cluster's total
cores on any deployment — never a local[32] constant, so the driver's
lower-core bench runs and a 1000-core cluster each get exactly one task
wave. Round-robin repartition is retry-safe (Spark sorts before
repartitioning by default — SPARK-23207) and order-insensitive consumers
(the driver's sorted-row canonical compare, the noop sink) see identical
results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, width_factor: int = 1) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism *
    width_factor`` partitions ahead of a CPU-bound row-local stage.

    Apply ONLY where the columns flowing into the stage are scalar
    proxies (ids, short strings) — payloads must be derived or decoded
    inside the stage, never shuffled. ``width_factor > 1`` trades a few
    extra tiny tasks for straggler slack on stages whose per-row cost is
    skewed (e.g. mixed-format extract lanes)."""
    if width_factor < 1:
        # a non-positive factor would reach DataFrame.repartition as a
        # non-positive partition count and die with an opaque JVM error
        raise ValueError(f"width_factor must be >= 1, got {width_factor}")
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * width_factor)


def fan_out_if_narrow(df: DataFrame, width_factor: int = 1) -> DataFrame:
    """:func:`fan_out`, applied ONLY when the scan plans fewer tasks
    than one executor wave (r14, verdict ask #3 — the CONDITIONAL form
    for JVM-compute lanes).

    The unconditional form is right for Python decode stages whose
    per-row cost dwarfs an exchange; for pure-JVM lanes (broadcast-join
    chains, decimal aggregates) the exchange only pays for itself when
    the input is effectively unsplittable (the bench corpus: one
    parquet file with one row group ⇒ a 1-task scan serializes the
    whole pipeline on one core). On a real multi-file table the scan
    already plans at least a wave of tasks and this helper is an exact
    no-op — so a 100 TB scan is never blanket-reshuffled.

    The partition probe reads the FILE-SOURCE partitioning Spark
    already computed at plan time (no job runs); apply this to the
    scan-side DataFrame BEFORE joins/aggregates so the probe sees the
    scan, not an exchange."""
    if width_factor < 1:
        raise ValueError(f"width_factor must be >= 1, got {width_factor}")
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism * width_factor)
