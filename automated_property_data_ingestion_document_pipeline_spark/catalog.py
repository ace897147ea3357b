"""Corpus catalog: explicit schemas + parquet loaders.

The reference is schema-on-read everywhere (SURVEY §1.2 — ``request.json
or {}`` + ``.get()`` defaults, app.py:26-28); our engine inverts that with
declared ``StructType`` at the bronze boundary. For the driver corpus the
schemas below mirror the parquet footers (FIXTURES.md §A) so scans prune
columns instead of inferring.

Scale note: loaders return *lazy* DataFrames straight off
``spark.read.parquet`` — no caching, no collect — so Catalyst can push
filters/projections into the scan (``PushedFilters``/``ReadSchema``) and
partition-prune at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast (SURVEY §2.4: every
# reference join is a dict lookup ⇒ broadcast hash join).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one corpus table.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet footer; with
    ``spark.sql.legacy.parquet.nanosAsLong`` (set by session.tune) it
    arrives as nano-epoch long and is truncated here to microsecond
    timestamps — byte-identical to what DuckDB exposes for the same file.
    """
    if name not in TABLES:
        raise KeyError(f"unknown corpus table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


# on-disk parquet bytes per corpus dir, stat-ed once per process — the
# input-size signal session.tune() scales shuffle partitions by
# (finding 93 rule 2). A table may be a single file or a directory of
# part files; missing tables count 0 so partial corpora still size.
_CORPUS_BYTES: dict[str, int] = {}


def corpus_bytes(sf_dir: str) -> int:
    if sf_dir not in _CORPUS_BYTES:
        total = 0
        for name in TABLES:
            p = table_path(sf_dir, name)
            if os.path.isfile(p):
                total += os.path.getsize(p)
            elif os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        _CORPUS_BYTES[sf_dir] = total
    return _CORPUS_BYTES[sf_dir]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows: "list[tuple]", ddl: str) -> DataFrame:
    """A small driver-side table as a ``LocalTableScan``. Rows go to the
    JVM as one Arrow table, so no Python worker runs when the frame is
    read; ``createDataFrame`` over a Python list plans ``Scan
    ExistingRDD`` instead, which costs one PythonRDD task per core on
    every read. Nulls and the declared ``ddl`` types are kept, and zero
    rows give an empty frame of that schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
