"""Training-data preparation operators (SURVEY §1.1 #4 / §2.9 ➕): the
ops a large-scale LLM data pipeline runs between raw corpus and tokenized
shards — embedding quantization, sequence packing, PII scrubbing,
benchmark decontamination, stratified sampling.

All are expressed so the heavy path is JVM codegen or Arrow-batched
numpy; each has a DuckDB oracle twin in plans/queries_training.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.functions.text import (
    shingles_of,
    token_count_ws,
    tokens,
)

# ---- int8 embedding quantization --------------------------------------------


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = 127/max|x|``,
    ``q = round_half_away(x * scale)`` — the storage/serving format for
    embedding shards (4× smaller, dot products stay rank-correlated).

    One Arrow-batched numpy kernel (per-element HOF arithmetic would
    re-evaluate the max-abs reduction per element — the lambda-CSE
    lesson, PERFORMANCE.md §1). Rounding is explicit
    ``floor(|v|+0.5)·sign`` because numpy's round is banker's while
    Spark/DuckDB round half away from zero — the formula makes all
    three agree bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<qvec: array<int>, scale: double>")
    def _quant(vecs: pd.Series) -> pd.DataFrame:
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        maxabs = np.maximum(np.abs(V).max(axis=1), 1e-12)
        scale = 127.0 / maxabs
        S = V * scale[:, None]
        Q = (np.floor(np.abs(S) + 0.5) * np.sign(S)).astype(np.int32)
        return pd.DataFrame({"qvec": list(Q), "scale": scale})

    out = df.withColumn("_q", _quant(F.col("embedding")))
    return out.select(
        "vec_id", F.col("_q.qvec").alias("qvec"), F.col("_q.scale").alias("scale")
    )


# ---- sequence packing --------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    bin_tokens: int = 2048,
    num_shards: int = 8,
) -> DataFrame:
    """Assign each document to a training-shard pack: contiguous bins of
    ~``bin_tokens`` whitespace tokens, packed in deterministic id order
    WITHIN a shard (``id % num_shards``).

    Sharding first is the scale decision: a single global running sum
    would serialize on one partition; per-shard windows give
    ``num_shards``-way parallelism and at cluster scale you set shards ≈
    output file count. A doc is assigned by its starting offset, so bins
    overflow rather than split documents (what a packer that respects
    document boundaries does)."""
    d = df.select(
        F.col("doc_id"),
        token_count_ws(F.col("text")).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") % num_shards).alias("_shard"),
    )
    w = (
        Window.partitionBy("_shard")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    pack = F.col("_shard") * 1_000_000 + F.floor(start / bin_tokens)
    return d.select("doc_id", "n_tokens", pack.cast("bigint").alias("pack_id"))


# ---- PII scrubbing -----------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def scrub_pii(col: Column) -> Column:
    """Mask emails then phone numbers (RE2-compatible patterns — no
    lookaround — so the DuckDB oracle runs the identical regexes).
    Row-local codegen; extend the chain per-category in deployment."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


# ---- benchmark decontamination ----------------------------------------------


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    shingle_k: int = 5,
) -> DataFrame:
    """Test-set decontamination: flag corpus docs sharing any k-token
    shingle with a benchmark set, with the count of distinct shared
    shingles. The benchmark side is tiny by construction (eval sets) →
    broadcast; the corpus side explodes shingles once and joins
    map-side, so cost is linear in corpus tokens. Returns
    (id, n_shared_shingles)."""
    def doc_shingles(df: DataFrame) -> DataFrame:
        toked = df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
        return toked.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(shingles_of(F.col("_toks"), shingle_k))).alias("_sh"),
        )

    bench_sh = doc_shingles(benchmark).select("_sh").distinct()
    corpus_sh = doc_shingles(corpus)
    hits = corpus_sh.join(F.broadcast(bench_sh), "_sh")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("_sh").cast("bigint").alias("n_shared_shingles")
    )


# ---- stratified sampling -----------------------------------------------------


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quota: int,
) -> DataFrame:
    """Deterministic per-stratum quota sample: rank by md5(id) inside
    each stratum (a seedless, engine-portable pseudo-random order) and
    keep ``quota`` rows. One shuffle on the stratum key; quotas bound
    the output regardless of strata skew — the mixture-control knob of
    corpus curation."""
    order = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )
