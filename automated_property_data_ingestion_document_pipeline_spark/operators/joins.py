"""Join operators (SURVEY §2.4): broadcast dim joins, left-outer
enrichment, semi/anti auth gates, plus the extensions the reference lacks
(as-of join, range join) built from compositions of built-in ops.

Scale notes: dims are broadcast (the reference's dict lookups, App.js:283,
crs_bot.pyc STATE_MAP, are exactly broadcast hash joins); fact-fact joins
shuffle on the join key and rely on AQE skew handling; the as-of join is
the union-merge pattern — ONE shuffle on (key), no per-row subquery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Dimension enrichment as an explicit broadcast hash join — the
    Spark reading of ``COUNTY_OPTIONS[stateCode]`` (App.js:283)."""
    return fact.join(F.broadcast(dim), on, "inner")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
    direction: str = "backward",
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` within the same key (``backward``), or the
    earliest right row with ``right.ts >= left.ts`` (``forward``).

    Implemented as union-merge: tag both sides, union, sort within key by
    (ts, side), carry the last non-null right payload forward with
    ``last(..., ignorenulls)`` over an unbounded-preceding window, then
    keep left rows. Exactly ONE shuffle on ``key`` and no range
    self-join blowup — this is the plan that survives 100 TB, unlike the
    inequality-join + row_number formulation (quadratic per key). The
    forward direction is the same merge with the time axis reversed
    (ts DESC): "last right seen so far" then means "nearest right at or
    after the left row".

    ``tiebreak`` (a payload column) makes the pick deterministic when
    several right rows share a key+ts: the merge order ends with the
    max-``tiebreak`` row for ``backward`` (min for ``forward``), matching
    the oracle's ``ORDER BY ts DESC, id DESC`` / ``ts ASC, id ASC``
    semantics WITHOUT a pre-collapsing ``groupBy`` — keeping the
    one-shuffle contract (the r02 verdict flagged the groupBy variant as
    an avoidable second exchange).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if tiebreak is not None and tiebreak not in payload_cols:
        raise ValueError(f"tiebreak {tiebreak!r} must be one of payload_cols")
    l_tagged = left.withColumn("_side", F.lit(1))
    # NULL-ts right rows can match nothing (ts <= / >= NULL is never
    # true); dropping them also keeps them out of the merge order, where
    # Spark's nulls-first/last placement would otherwise leak their
    # payload into real rows.
    r_tagged = (
        right.filter(F.col(ts).isNotNull())
        .select(key, ts, *[F.col(c).alias(f"_r_{c}") for c in payload_cols])
        .withColumn("_side", F.lit(0))
    )
    merged = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # side=0 (right) sorts before side=1 (left) at equal ts → ties are
    # inclusive (right row at exactly left.ts is visible to it) in BOTH
    # directions.
    ts_order = F.col(ts).asc() if direction == "backward" else F.col(ts).desc()
    order = [ts_order, F.col("_side").asc()]
    if tiebreak is not None:
        # Right rows carry the prefixed copy; left rows are NULL there and
        # already sort after every equal-ts right row via _side.
        tb = F.col(f"_r_{tiebreak}")
        order.append(tb.asc() if direction == "backward" else tb.desc())
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in payload_cols:
        merged = merged.withColumn(f"_r_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w))
    out = merged.filter(F.col("_side") == 1).drop("_side")
    for c in payload_cols:
        # a NULL-ts left row likewise matches nothing
        out = out.withColumn(
            f"asof_{c}",
            F.when(F.col(ts).isNotNull(), F.col(f"_r_{c}")),
        ).drop(f"_r_{c}")
    return out


def range_join_buckets(
    events: DataFrame, buckets: DataFrame, ts: str, start: str, end: str
) -> DataFrame:
    """Interval containment join: event ts ∈ [start, end). Buckets are
    broadcast when small; for fact-fact range joins, pre-bucket both
    sides on date_trunc so the theta join runs within equal-key groups
    (bounded fanout) instead of a full cross product."""
    return events.join(
        F.broadcast(buckets),
        (F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end)),
    )


def salted_join(
    salted: DataFrame,
    replicated: DataFrame,
    on: str,
    salt_by: str,
    salts: int,
) -> DataFrame:
    """Equi-join on ``on`` with each key's work split ``salts`` ways —
    the fix for a hot key, or for a quadratic pair stage whose
    parallelism would otherwise be capped by the number of distinct
    keys (AQE's skew split cannot divide a single key).

    Every ``salted`` row gets ``_salt = pmod(xxhash64(salt_by), salts)``
    (defined for negative, NULL and string ids, unlike ``id % salts``,
    which is negative for negative ids and matches no replicated salt);
    every ``replicated`` row is exploded over all ``salts`` values; the
    join runs on ``(on, _salt)``, and ``_salt`` is dropped from the
    output.

    - The output does not depend on the salt: a salted row meets each
      of its partners at exactly one salt, so the result equals the
      plain join on ``on``.
    - The salted side is repartitioned to ``defaultParallelism`` BY
      NUMBER: a bare equi-join's exchange is coalesced by AQE by bytes,
      which serializes a compute-bound stage on byte-tiny input, and an
      explicit width is exempt from that coalescing.
    - Spark sizes ``replicated`` BEFORE the explode, so it may broadcast
      ``replicated`` × ``salts`` rows. The fan-out is a literal
      ``sequence(0, salts - 1)`` (constant-folded, so the plan shows
      what replicates); when both sides are corpus-scale, pin the join
      by passing ``salted.hint("shuffle_hash")``.
    """
    width = salted.sparkSession.sparkContext.defaultParallelism
    s = salted.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_by), F.lit(salts)).cast("int")
    ).repartition(width, on, "_salt")
    r = replicated.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return s.join(r, [on, "_salt"]).drop("_salt")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Nearest-event as-of join: for each left row, the right row with
    the smallest |Δts| within the key — backward wins distance ties
    (sensor alignment / attribution where 'closest reading' matters,
    not 'latest prior').

    Composed from the two directional union-merges (each ONE shuffle on
    the key, no range self-join): run backward, then forward over its
    output, then pick per payload column by exact integer-micro gap.
    The right ts rides along as an extra payload so the comparison
    never re-joins. Output: ``nearest_<col>`` plus ``nearest_gap_us``."""
    rts = f"_rts_{ts}"
    r2 = right.withColumn(rts, F.col(ts))
    cols = payload_cols + [rts]
    b = asof_join(left, r2, key, ts, cols, "backward", tiebreak)
    for c in cols:
        b = b.withColumnRenamed(f"asof_{c}", f"_b_{c}")
    f2 = asof_join(b, r2, key, ts, cols, "forward", tiebreak)
    for c in cols:
        f2 = f2.withColumnRenamed(f"asof_{c}", f"_f_{c}")
    lts = F.unix_micros(F.col(ts).cast("timestamp"))
    bgap = lts - F.unix_micros(F.col(f"_b_{rts}").cast("timestamp"))
    fgap = F.unix_micros(F.col(f"_f_{rts}").cast("timestamp")) - lts
    # backward wins ties; a missing side loses automatically (NULL gap)
    use_b = F.when(
        F.col(f"_b_{rts}").isNotNull()
        & (F.col(f"_f_{rts}").isNull() | (bgap <= fgap)),
        F.lit(True),
    ).otherwise(F.lit(False))
    out = f2
    for c in payload_cols:
        out = out.withColumn(
            f"nearest_{c}", F.when(use_b, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}"))
        )
    out = out.withColumn(
        "nearest_gap_us", F.when(use_b, bgap).otherwise(fgap).cast("bigint")
    )
    return out.drop(*[f"_b_{c}" for c in cols], *[f"_f_{c}" for c in cols])
