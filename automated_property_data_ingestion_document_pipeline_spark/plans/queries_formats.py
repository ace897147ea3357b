"""File-format roundtrip registrations: CSV, JSON-lines, and ORC read
paths, each verified value-for-value against the parquet source.

The reference ingests JSON request bodies over HTTP (app.py:26-28); a
general engine also meets data as CSV exports, JSONL dumps, and ORC
lakes. Each key writes the orders projection to the target format in
scratch (executor-side, partitioned — the write is part of the test),
reads it back with an EXPLICIT schema (schema-on-read at the bronze
boundary only, catalog.py policy), and returns the readback — the
oracle reads the original parquet, so the driver hash proves the
format encode/decode is lossless for every row.

Doubles survive textual formats because both writers emit the shortest
round-trip decimal repr (Java ``Double.toString``) and the reader
parses it back to the identical bits. Timestamps are deliberately
excluded from the textual keys: CSV/JSONL timestamp fidelity is a
formatting-option minefield and the engine's timestamp path is already
oracle-covered via parquet keys.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automated_property_data_ingestion_document_pipeline_spark import catalog
from automated_property_data_ingestion_document_pipeline_spark.plans.registry import query
from automated_property_data_ingestion_document_pipeline_spark.session import scratch_dir

_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
           o_totalprice
    FROM orders
"""

_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


def _projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )


@query("q_csv_roundtrip", oracle=_ORACLE)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → schema'd read, PERMISSIVE mode, header on. Quoting
    is exercised by the priority strings (embedded '-'). CSV cannot
    natively tell NULL from '' (both serialize to an empty field — the
    edge corpus exposed exactly that collision), so the writer emits an
    explicit ``\\N`` null token and the reader maps it back: the only
    lossless CSV null contract."""
    out = scratch_dir(sf_dir, "orders_csv")
    shutil.rmtree(out, ignore_errors=True)
    _projection(spark, sf_dir).write.option("header", True).option(
        "nullValue", "\\N"
    ).option("emptyValue", '""').csv(out)
    return (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(out)
    )


@query("q_jsonl_roundtrip", oracle=_ORACLE)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → schema'd read — the dump format every API
    export lands in. Explicit schema skips sampling-based inference
    (a full extra pass at 100 TB)."""
    out = scratch_dir(sf_dir, "orders_jsonl")
    shutil.rmtree(out, ignore_errors=True)
    _projection(spark, sf_dir).write.json(out)
    return spark.read.schema(_SCHEMA).json(out)


@query("q_orc_roundtrip", oracle=_ORACLE)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read (built into Spark, no extra package): the other
    columnar lake format, with the same pushdown/pruning levers as
    parquet. Schema comes from the ORC footer."""
    out = scratch_dir(sf_dir, "orders_orc")
    shutil.rmtree(out, ignore_errors=True)
    _projection(spark, sf_dir).write.orc(out)
    return spark.read.orc(out)


# -- denormalized nested serving table ----------------------------------------


@query(
    "q_denormalize_roundtrip",
    oracle="""
    SELECT o.o_orderkey,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items,
           CAST(COALESCE(SUM(COALESCE(TRY_CAST(FLOOR(l.l_quantity) AS BIGINT), 0)), 0)
                AS BIGINT) AS qty_sum,
           CAST(MIN(l.l_linenumber) AS INTEGER) AS first_line
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def q_denormalize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The denormalize-for-serving pattern: collapse each order's line
    items into a SORTED array-of-structs column (the nested-parquet
    document shape row stores serve from), then compute the per-order
    metrics FROM THE NESTED FORM via JVM array HOFs — no re-explode.
    The oracle computes the same metrics from the flat join, so
    agreement proves the nesting lost nothing (orders with zero items
    keep an empty array, not a dropped row). One shuffle to group line
    items + one co-partitioned left join."""
    o = catalog.load(spark, sf_dir, "orders").select("o_orderkey")
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(
            F.expr("try_cast(floor(l_quantity) as bigint)"), F.lit(0)
        ).alias("qty"),
    )
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.struct("l_linenumber", "qty"))
        ).alias("items")
    )
    doc = o.join(
        nested, o["o_orderkey"] == nested["l_orderkey"], "left"
    ).select(
        "o_orderkey",
        F.coalesce("items", F.array().cast("array<struct<l_linenumber:int,qty:bigint>>")).alias(
            "items"
        ),
    )
    return doc.select(
        "o_orderkey",
        F.size("items").cast("bigint").alias("n_items"),
        F.aggregate(
            "items", F.lit(0).cast("bigint"), lambda acc, it: acc + it["qty"]
        ).alias("qty_sum"),
        F.try_element_at("items", F.lit(1))["l_linenumber"].alias("first_line"),
    )


@query(
    "q_union_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus, NULL AS o_orderpriority,
           'fees' AS src
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderpriority, o_totalprice, 'pri' AS src,
           NULL AS o_orderstatus
    FROM orders WHERE o_orderkey % 3 = 1
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift-tolerant union: two extracts of the same feed with
    different column ORDER and SETS combine by column NAME
    (``unionByName(allowMissingColumns=True)`` — the Spark twin of
    DuckDB's ``UNION ALL BY NAME``), absent columns padded with NULL
    rather than silently mis-zipped by position. This is the append
    path every multi-vintage bronze table needs; positional UNION on
    drifted schemas is the classic silent-corruption bug this operator
    exists to prevent. Narrow op — no shuffle at all."""
    o = catalog.load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus", F.lit("fees").alias("src")
    )
    b = o.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey", "o_orderpriority", "o_totalprice", F.lit("pri").alias("src")
    )
    return a.unionByName(b, allowMissingColumns=True)
