"""Row-local Python stages: one function per input row, batched by Arrow.

The codec, render and extract lanes each run one Python function per input
row on the executor: payload bytes are built, decoded or written there, and
only the declared output columns come back to the JVM. :func:`map_rows` is
that stage. The caller gives the per-row function and the output schema;
the helper owns the ``mapInPandas`` batch loop, the null handling and the
output dtypes (the shape of a grouped ``gapply(df, func, schema)``, applied
per row).

Stages that work on a whole batch at once (vectorised scoring, encoders)
or carry state from row to row (sessionizers, replay streams) call
``mapInPandas`` themselves; ``tests/test_map_in_pandas_guard.py`` lists
them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, IntegralType, StructType

RowFn = Callable[..., Iterable[tuple]]


def _dtype(field) -> object:
    """pandas dtype of one output column: nullable ``Int64``/``boolean``
    keep a null next to exact values (an ``int64`` above 2**53 beside a
    None would otherwise pass through float64); everything else is an
    object column of Python values."""
    if isinstance(field.dataType, IntegralType):
        return "Int64"
    if isinstance(field.dataType, BooleanType):
        return "boolean"
    return object


def _scalars(col, integral: bool) -> list:
    """One input column as Python scalars, None for a null. Spark hands
    pandas a null as NaN in a float64 column, and an integer column that
    holds a null arrives as float64 too (exact up to 2**53); a NaN double
    also reads as None."""
    values = col.tolist()
    if col.dtype.kind == "f":
        values = [None if v != v else int(v) if integral else v for v in values]
    return values


def row_batches(in_schema: StructType, out_schema: StructType, fn: RowFn):
    """The ``mapInPandas`` batch function that applies ``fn`` to each row
    of input columns ``in_schema`` and emits ``out_schema`` batches. Use
    :func:`map_rows`; this is the same function for a caller that must
    hand ``mapInPandas`` a batch function of its own."""
    integral = [isinstance(f.dataType, IntegralType) for f in in_schema.fields]
    names = out_schema.names
    dtypes = [_dtype(f) for f in out_schema.fields]

    def batches(frames: Iterator) -> Iterator:
        import pandas as pd

        for pdf in frames:
            cols = [_scalars(pdf.iloc[:, i], f) for i, f in enumerate(integral)]
            rows = [out for row in zip(*cols) for out in fn(*row)]
            out_cols = list(zip(*rows, strict=True)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {
                    n: pd.Series(list(c), dtype=d)
                    for n, c, d in zip(names, out_cols, dtypes, strict=True)
                }
            )

    # plans and the Spark UI name the stage after the row function
    batches.__name__ = fn.__name__
    return batches


def map_rows(df: DataFrame, schema: str, fn: RowFn) -> DataFrame:
    """Apply ``fn`` to every row of ``df`` in a row-local ``mapInPandas``
    stage (no exchange). ``fn(*values)`` receives one row's values in
    ``df``'s column order, as Python scalars with None for a null (for
    integer, floating, boolean, string and binary columns), and yields
    zero or more output tuples in the order of the DDL ``schema``.
    Integer output columns are built as nullable ``Int64`` and booleans
    as nullable ``boolean``, so None and exact 64-bit values survive."""
    out = StructType.fromDDL(schema)
    return df.mapInPandas(row_batches(df.schema, out, fn), out)
