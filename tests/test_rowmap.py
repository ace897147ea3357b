"""operators/rowmap.map_rows: the row-local Python stage helper."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from automated_property_data_ingestion_document_pipeline_spark import catalog
from automated_property_data_ingestion_document_pipeline_spark.operators.rowmap import (
    map_rows,
    row_batches,
)

BIG = 2**53 + 1  # the first int64 float64 cannot hold


def test_big_int_beside_null_stays_exact(spark):
    def fn(i):
        yield (i, BIG + i if i % 2 == 0 else None)

    # one partition: both values land in one output batch
    out = map_rows(spark.range(0, 4, 1, 1), "id bigint, v bigint", fn)
    assert sorted(out.collect()) == [(0, BIG), (1, None), (2, BIG + 2), (3, None)]


def test_declared_types_come_out(spark):
    def fn(i):
        yield (None if i == 0 else i == 1, b"\x00\xffraw", f"s{i}", i)

    out = map_rows(spark.range(0, 2, 1, 1), "b boolean, bin binary, s string, n int", fn)
    assert out.dtypes == [("b", "boolean"), ("bin", "binary"), ("s", "string"), ("n", "int")]
    rows = sorted(out.collect(), key=lambda r: r.n)
    assert [tuple(r) for r in rows] == [
        (None, bytearray(b"\x00\xffraw"), "s0", 0),
        (True, bytearray(b"\x00\xffraw"), "s1", 1),
    ]


def test_rows_fan_out_to_zero_or_three(spark):
    def fn(i):
        for k in range(3 if i % 2 else 0):
            yield (i, k)

    out = map_rows(spark.range(0, 4, 1, 1), "id bigint, k int", fn)
    assert sorted(out.collect()) == [(1, 0), (1, 1), (1, 2), (3, 0), (3, 1), (3, 2)]
    assert map_rows(spark.range(0, 4, 1, 1), "id bigint, k int", lambda i: ()).count() == 0


def test_empty_input(spark):
    out = map_rows(spark.range(0, 4, 1, 1).filter("id < 0"), "id bigint", lambda i: [(i,)])
    assert out.collect() == []
    # an Arrow batch with zero rows: the typed empty frame comes back
    batches = row_batches(
        StructType.fromDDL("id bigint"), StructType.fromDDL("id bigint, ok boolean, s string"),
        lambda i: [(i, True, "x")],
    )
    (frame,) = batches(iter([pd.DataFrame({"id": pd.Series([], dtype="int64")})]))
    assert len(frame) == 0
    assert [str(t) for t in frame.dtypes] == ["Int64", "boolean", "object"]


def test_input_nulls_reach_fn_as_none(spark):
    # an integer column holding a null reaches pandas as float64 (exact to
    # 2**53); fn still receives an int, and None for every null
    df = catalog.local_frame(
        spark,
        [(None, None, None, None), (7, "x", b"y", False)],
        "n bigint, s string, b binary, t boolean",
    ).coalesce(1)
    seen = map_rows(
        df,
        "types string, n bigint",
        lambda *row: [(" ".join(type(v).__name__ for v in row), row[0])],
    ).collect()
    assert sorted(tuple(r) for r in seen) == [
        ("NoneType NoneType NoneType NoneType", None),
        ("int str bytes bool", 7),
    ]


def test_row_of_wrong_width_fails(spark):
    out = map_rows(spark.range(0, 1, 1, 1), "a bigint, b bigint", lambda i: [(i,)])
    with pytest.raises(Exception, match="shorter|longer|argument"):
        out.collect()
