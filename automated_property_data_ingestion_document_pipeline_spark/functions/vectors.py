"""Vector expressions over array<float> embedding columns (SURVEY §2.9
X5/X6): dot product, norms, cosine — via higher-order functions
(``zip_with`` / ``aggregate``). They run in the JVM, not Python, but
Spark INTERPRETS their lambdas per element instead of compiling them
into whole-stage codegen, so a per-pair fold is the dominant cost of a
pair stage. Elements are cast to double BEFORE accumulation so Spark and
the DuckDB oracle sum in the same precision and sequential order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (ANSI
    division-by-zero would error — DuckDB yields NULL on x/0, so
    ``try_divide`` is the parity-preserving form; zero vectors then
    sort last under DESC ranking on both engines)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the two norms supplied as precomputed
    columns — the pairwise-join form. ``norm`` is a deterministic
    function of the vector, so hoisting it to the (linear-sized) join
    inputs yields the IDENTICAL double while removing two O(d) folds
    from every (quadratic-sized) pair: the same hoist-before-the-blowup
    rule as BM25's row-local doc_len (PERFORMANCE.md §57)."""
    return F.try_divide(dot(a, b), na * nb)
