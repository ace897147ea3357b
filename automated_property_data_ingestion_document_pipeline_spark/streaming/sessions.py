"""Streaming sessionization & windowed aggregation (SURVEY §2.7 T1-T4).

The wizard's keyed step state machine (App.js:252, 286-310; per-user
session persisted in sessionStorage) maps to ``session_window`` with a
gap; its abort/timeout semantics (App.js:142-147, 354-357) map to
watermarks + ``dropDuplicatesWithinWatermark``.

Scale notes: state is keyed by user → partitions by key, state store per
executor; watermark bounds state size (late events beyond the watermark
are dropped, exactly the reference's stale-abort). File-source streams
use ``maxFilesPerTrigger`` for backpressure; ``availableNow`` gives
batch-bounded runs (used by tests and the rows-only driver key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Event-time lateness every stateful operator here tolerates before it
# drops an event and frees its state.
WATERMARK = "2 hours"

# The physical type of ``ts`` depends on how the corpus was generated:
# TIMESTAMP(NANOS) footers arrive as nano-epoch long under
# session.tune's ``nanosAsLong`` and need truncation to micros;
# TIMESTAMP(MICROS) footers read natively as timestamp. The stream
# source requires an explicit schema, so it must be built per-file —
# a wrong guess silently compresses the timeline 1000× (every gap
# shrinks below the session threshold and sessionization collapses to
# one window per user).
def _events_schema(ts_is_long: bool) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_is_long else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _stage_stream_dir(sf_dir: str, table: str = "events") -> str:
    """The file stream source requires a DIRECTORY (its basePath); stage
    a symlink to the table's parquet under .scratch/.

    The scratch dir is keyed by :func:`bucketing.corpus_table_tag`
    (basename + abs-path hash), NOT the bare basename (r12 ADVICE):
    two corpora sharing a basename — every pytest tmp_path fixture —
    must stage to DIFFERENT dirs, or a stream would read one corpus'
    rows while the caller probes the other corpus' base tables. Belt
    and braces, the staged link is also re-validated against the
    requested source on every call and re-pointed if it drifted
    (e.g. a recreated tmp dir reusing an inode path)."""
    import os
    import shutil

    from automated_property_data_ingestion_document_pipeline_spark.operators.bucketing import (
        corpus_table_tag,
    )

    from automated_property_data_ingestion_document_pipeline_spark.session import SCRATCH

    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    d = os.path.join(SCRATCH, f"stream_{table}_{corpus_table_tag(sf_dir)}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if os.path.islink(link):
        if os.path.realpath(link) != os.path.realpath(src):
            os.unlink(link)  # stale target: same tag can't collide, but re-point anyway
    if not os.path.exists(link):
        try:
            os.symlink(src, link)
        except OSError:
            if os.path.isdir(src):
                shutil.rmtree(link, ignore_errors=True)
                shutil.copytree(src, link)
            else:
                shutil.copy(src, link)
    return d


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (explicit schema,
    matching the corpus footer) — the in-stream half of the r10
    dead-letter parity lane."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_stream_dir(sf_dir, "documents"))
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: "int | None" = 1
) -> DataFrame:
    """File-source stream over the events parquet (schema required for
    streaming reads). Probes the batch reader for the physical ``ts``
    type so nanos- and micros-generated corpora both stream correctly
    (same dtype gate as catalog.load).

    ``max_files_per_trigger=1`` (default) exercises genuine multi-batch
    behavior — backpressure, cross-batch state, watermark advancement.
    ``None`` removes the cap so an availableNow run ingests everything
    in ONE batch: the watermark is epoch-zero while data flows (no row
    can be late-dropped) and only advances for the final flush, making
    the emitted result a deterministic function of the dataset — the
    property q_stream_multi's closed-form oracle relies on."""
    import os

    ts_is_long = (
        dict(spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes).get("ts")
        == "bigint"
    )
    reader = spark.readStream.schema(_events_schema(ts_is_long))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(_stage_stream_dir(sf_dir))
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def session_agg(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user with late-data watermark —
    the streaming twin of operators/sessionize.py."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("session"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Duplicate/stale discard (App.js:354-357 abort-stale):
    dropDuplicatesWithinWatermark on the event id."""
    return stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])


def tumbling_counts(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window per-type counts (T3)."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events")
    )


def purchase_view_join(stream: DataFrame, within: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's views in the preceding ``within`` window — the attribution
    join every event pipeline runs.

    Both inputs are branches of one source stream; watermarks on BOTH
    sides + the time-bound join predicate let Spark evict join state
    (state per side ≈ watermark + interval of events, not the full
    history) — unbounded stream-stream joins are refused by design."""
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return purchases.join(
        views,
        F.expr(
            f"""user_id = v_user_id
            AND view_ts <= purchase_ts
            AND view_ts >= purchase_ts - INTERVAL {within}"""
        ),
    ).select("user_id", "purchase_event_id", "purchase_ts", "view_event_id", "view_ts")


def run_available_now(
    result: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DF to completion with the availableNow trigger
    into a memory sink; returns the materialized table. Used for
    batch-bounded correctness checks of the streaming surface.
    ``output_mode``: "complete" for aggregations, "append" for
    stream-stream joins (complete is invalid there)."""
    spark = result.sparkSession
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def ewma_fold(batch_pdf, y: float | None, n: int) -> tuple[float | None, int]:
    """Continue the α=1/2 EWMA fold over one micro-batch: sort by
    (ts, event_id), then left-to-right ``(acc + x) / 2.0``. Shared by
    the streaming operator and its differential test so the tested
    chain IS the deployed chain."""
    batch_pdf = batch_pdf.sort_values(["ts", "event_id"], kind="mergesort")
    for x in batch_pdf["cents"].to_numpy():
        xf = float(x)
        y = xf if y is None else (y + xf) / 2.0
        n += 1
    return y, n


def ewma_stream(stream: DataFrame) -> DataFrame:
    """Streaming EWMA (α = 1/2) per user — the unbounded-key form of
    plans/queries_timeseries.q_ewma. Per-key GroupState carries
    (ewma, n); each micro-batch sorts its rows by (ts, event_id) and
    continues the same left-to-right ``(acc + x) / 2.0`` fold, so a
    single-batch availableNow run is BIT-IDENTICAL to the batch twin
    (pinned by tests/test_differential_r4b.py). State is two scalars
    per key — bounded regardless of stream length, the shape that
    survives an unbounded 100 TB firehose.

    ``cents`` must be computed Spark-side before this operator (numpy
    would half-even-round where Spark half-up-rounds).
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_struct = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("ewma_cents", DoubleType()),
        ]
    )
    state_struct = StructType(
        [StructField("y", DoubleType()), StructField("n", LongType())]
    )

    def process(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        uid = key[0]
        y, n = state.get if state.exists else (None, 0)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        if len(batch) == 0:
            return
        y, n = ewma_fold(batch, y, n)
        state.update((y, n))
        yield pd.DataFrame([(uid, n, y)], columns=["user_id", "n_events", "ewma_cents"])

    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            process, out_struct, state_struct, "update", GroupStateTimeout.NoTimeout
        )
    )
