"""Data-layout operators: the write-side levers that make 100 TB READS
cheap — min/max (zone-map) pruning only works if writers cluster data.

- ``z_value``: Morton/Z-order interleaving of two sort dimensions so a
  single sort key clusters BOTH columns; parquet row-group min/max
  stats then prune selective filters on either dimension (the lakehouse
  OPTIMIZE ZORDER primitive, done with plain sortWithinPartitions).
- ``compact_write``: small-files compaction — repartition to a target
  file count with ``maxRecordsPerFile`` as the guard rail. Small files
  are the classic scan killer (per-file open/footer cost, starved
  vectorized readers).

Everything is pure Column arithmetic / writer options — no UDFs, no
driver loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value(*cols: Column, bits: int = 16) -> Column:
    """Morton code of k non-negative ints: interleaves the low ``bits``
    of each column (column j owns bit positions j, j+k, j+2k, …) into
    one sortable long. Built from unrolled shift/mask Column
    expressions — codegen'd JVM bit math, no Python. Values are clamped
    into [0, 2^bits) so outliers can't flip the interleave; k·bits must
    fit 63 bits."""
    k = len(cols)
    if k < 2:
        raise ValueError("z_value needs at least two columns")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed long")
    lim = F.lit((1 << bits) - 1)
    clamped = [F.least(F.greatest(c.cast("long"), F.lit(0)), lim) for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, cc in enumerate(clamped):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cc, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered by the Z-order of (col_a, col_b):
    range-partition + sort by the Morton code so every output file owns
    a compact rectangle in (a, b) space — min/max footer stats on BOTH
    columns become selective, and a filter on either dimension prunes
    most files at planning time."""
    zed = df.withColumn("_z", z_value(F.col(col_a), F.col(col_b), bits=bits))
    (
        zed.repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_write(
    df: DataFrame,
    path: str,
    target_files: int = 4,
) -> None:
    """Compaction: coalesce the dataset into ``target_files`` parquet
    files (round-robin repartition — balanced regardless of input
    skew), with ``maxRecordsPerFile`` bounding the worst case."""
    (
        df.repartition(target_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "1000000")
        .parquet(path)
    )
