"""Similarity search over embedding columns (SURVEY §2.9 X5): brute-force
cosine top-k as the exact baseline, and an LSH-bucketed (random
hyperplane) variant as the scale path.

Scale notes: brute force is a broadcast of the (small) query set against
the full corpus — a map-only scan, no shuffle, linear in corpus size; at
100 TB you bound the query side, never cross-join fact×fact. The LSH
variant shuffles once on bucket signature: candidate generation is
|bucket|-local, the classic sub-linear ANN trade (recall vs probes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.functions.vectors import cosine, cosine_with_norms, dot, norm
from automated_property_data_ingestion_document_pipeline_spark.operators.joins import salted_join

# Deterministic pseudo-random hyperplanes: component h_{p,d} derived from
# xxhash64(plane, dim) scaled to [-1, 1]. No RNG state → reproducible
# across runs and oracle-checkable in principle.

#: Hard cap on the collected query side of the PQ / IVF-PQ entry points.
#: Their ADC lookup table is built driver-side (Q × M × ks doubles) and
#: shipped in the scoring UDF's closure, so the query side MUST be the
#: bounded broadcast side — the same enforced-boundedness contract as the
#: 4096-row codebook sample. 65 536 queries × 32 subspaces × 16 centroids
#: ≈ 268 MB LUT, the sane ceiling for a closure broadcast; past it you
#: want a different plan (ivf_candidate_pairs / LSH for corpus×corpus).
MAX_QUERY_SIDE = 65_536


def _bounded_query_rows(queries: DataFrame) -> list:
    """Collect the query side under :data:`MAX_QUERY_SIDE`, raising a
    clear contract error instead of a driver OOM on misuse (e.g.
    ``pq_topk(corpus, corpus)`` at scale). ``limit(cap+1)`` bounds the
    transfer even on the failure path."""
    rows = (
        queries.select("vec_id", "embedding")
        .orderBy(F.col("vec_id").asc())
        .limit(MAX_QUERY_SIDE + 1)
        .collect()
    )
    if len(rows) > MAX_QUERY_SIDE:
        raise ValueError(
            f"PQ/IVF-PQ query side exceeds MAX_QUERY_SIDE={MAX_QUERY_SIDE}: "
            "these operators broadcast a per-query ADC LUT, so the query set "
            "must be bounded (filter/limit it), or use ivf_candidate_pairs / "
            "lsh_candidate_pairs for corpus-scale query sets"
        )
    return rows


def _plane_component(p: int, d: Column) -> Column:
    h = F.xxhash64(F.lit(p), d)
    return (h % 10_000).cast("double") / 10_000.0


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × scan corpus, window
    rank per query. Ties broken by corpus id for determinism."""
    # norms hoisted to the LINEAR-sized inputs: recomputing them inside
    # the query x corpus blowup costs two extra O(d) folds per pair for
    # the identical double (norm is a pure function of the vector).
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        norm(F.col("embedding")).alias("_qn"),
    )
    c_n = corpus.withColumn("_cn", norm(F.col("embedding")))
    scored = c_n.alias("c").join(
        F.broadcast(q), F.col("query_id") != F.col("c.vec_id")
    ).select(
        "query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        F.round(
            cosine_with_norms(
                F.col("_qvec"), F.col("c.embedding"), F.col("_qn"), F.col("c._cn")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hyperplane_signature(vec: Column, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH bit signature (int): bit p = sign of
    <vec, plane_p>. Row-local higher-order-function arithmetic."""
    def plane_fn(p: int):
        # closure, not default-arg: HOF lambdas must be single-argument
        return lambda d: _plane_component(p, d)

    sig = F.lit(0)
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(F.sequence(F.lit(0), F.lit(63)), plane_fn(p)),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sig


def hyperplane_signatures(vec: Column) -> Column:
    """Per-table random-hyperplane signatures as ``array<bigint>`` of
    length 12 (table t's signature = 4 sign bits of Gaussian
    projections of a 64-dim vector).

    One Arrow-batched numpy matmul per batch (V @ planes, the measured
    6× winner over per-plane HOF folds, PERFORMANCE.md §4) — row-local,
    map-only, no shuffle; the plane matrix is a deterministic
    ``RandomState(7)`` draw closed over by the UDF (broadcast with
    the task, ~2 KB)."""
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(7)
    planes = rng.standard_normal((64, 12 * 4))
    weights = 1 << np.arange(4, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _sigs(vecs: pd.Series) -> pd.Series:
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        bits = (V @ planes) >= 0.0
        bits = bits.reshape(len(V), 12, 4)
        return pd.Series(list(bits @ weights))

    return _sigs(vec)


def lsh_candidate_pairs(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Candidate (query, neighbor) pairs from L independent signature
    tables, exact-cosine-scored and deduped.

    Plan: signatures are a map-only matmul on both sides; the corpus
    explodes to (id, table, sig) and joins the BROADCAST exploded query
    side on (table, sig) — bucket-equality only, never all-pairs. A
    candidate seen in multiple tables is collapsed by a scalar-only
    groupBy (cosine recomputed per duplicate in codegen rather than
    shuffling vector payloads). Multi-table union is the standard fix
    for the one-table recall cliff (round-1 verdict): recall =
    1-(1-p^b)^L instead of p^b."""
    sig = lambda df: df.withColumn(  # noqa: E731
        "_sigs", hyperplane_signatures(F.col("embedding"))
    )
    # norms computed BEFORE the L-way table fan-out AND the candidate
    # join (once per vector, not per table row or per candidate —
    # finding §57's hoist-before-the-blowup rule)
    q = sig(queries).withColumn("_qn", norm(F.col("embedding"))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        "_qn",
        F.posexplode("_sigs").alias("_qt", "_qsig"),
    )
    c = sig(corpus).withColumn("_cn", norm(F.col("embedding"))).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        "_cn",
        F.posexplode("_sigs").alias("_ct", "_csig"),
    )
    cand = c.join(
        F.broadcast(q),
        (F.col("_ct") == F.col("_qt"))
        & (F.col("_csig") == F.col("_qsig"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("_qvec"), F.col("_cvec"), F.col("_qn"), F.col("_cn")
            ),
            6,
        ).alias("cos_sim"),
    )
    # dedup across tables: scalars only cross the shuffle
    return cand.groupBy("query_id", "neighbor_id").agg(F.max("cos_sim").alias("cos_sim"))


def lsh_topk_multi(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k over the multi-table LSH candidates; same output
    schema as brute_force_topk. More tables raise recall; more planes
    mean fewer probes per table. The near-orthogonal test corpus needs
    few planes and many tables (12 × 4 here); clustered real-world
    embeddings would need planes that grow with corpus size (bucket
    occupancy ~ n/2^b)."""
    cand = lsh_candidate_pairs(corpus, queries)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def _kmeans_codebook(X: np.ndarray, k: int, seed: int = 11) -> np.ndarray:
    """Deterministic driver-side Lloyd k-means over a bounded sample
    (≤ 4096 × dim floats — microseconds of numpy): seeded choice init,
    fixed iteration count, empty cells keep their previous centroid."""
    rng = np.random.RandomState(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(10):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def ivf_candidate_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    num_cells: int = 8,
    nprobe: int = 1,
) -> DataFrame:
    """IVF candidate generation: coarse-quantize to ``num_cells``
    centroid cells, pair each query with the corpus rows in its
    top-``nprobe`` cells. Returns ``(query_id, neighbor_id, _qvec,
    _nvec)`` — the vectors ride along so the scoring stage needs no
    extra join back to the corpus.

    Codebook: k-means (seeded init + fixed Lloyd iterations, fully
    deterministic) over a BOUNDED deterministic sample of the corpus —
    ``TakeOrderedAndProject`` on a hash of the id collects ≤ 4096 rows
    regardless of corpus size (no shuffle exchange, no unbounded driver
    collect; real IVF systems train the codebook offline exactly like
    this, cf. Johnson et al., billion-scale similarity search).
    Assignment is a row-local Arrow-batched matmul against the codebook
    closed over by the UDF; the search join probes |cell|, not
    |corpus|. ``nprobe`` > 1 is the standard recall knob: the QUERY side
    probes its top-``nprobe`` cells (query fan-out only — the corpus
    stays single-cell), recall rises with probed mass at
    ``nprobe/num_cells`` of the search cost. Cell GRANULARITY is the
    other knob: at fixed probed mass, finer cells raise recall
    (measured sweep in PERFORMANCE.md §13 — 8 → 32 cells lifted
    recall@5 0.66 → 0.82+ at ~0.4 probing), but cells must track
    corpus size (grow ~√N)."""
    from pyspark.sql.functions import pandas_udf

    sample_rows = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(997)).asc(), F.col("vec_id").asc())
        .limit(4096)
        .collect()
    )
    X = np.array([[float(x) for x in r["embedding"]] for r in sample_rows])
    cents = _kmeans_codebook(X, num_cells)
    cents_n = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    # Cell assignment is a dense matrix multiply — exactly the case where
    # a vectorized (Arrow-batched) pandas UDF beats built-in HOF
    # expressions: the codebook is closed over (broadcast with the task),
    # each batch is one V @ C.T.
    n_probe = min(nprobe, len(cents_n))

    @pandas_udf("array<int>")
    def cells_of(vecs: pd.Series) -> pd.Series:
        V = np.vstack(vecs.to_numpy())
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sims = Vn @ cents_n.T
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(top))

    c_cells = corpus.withColumn(
        "_cell", F.element_at(cells_of(F.col("embedding")), 1)  # corpus: nearest cell only
    ).withColumn("_nn", norm(F.col("embedding")))
    q = queries.withColumn("_cells", cells_of(F.col("embedding"))).withColumn(
        "_qn", norm(F.col("embedding"))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        "_qn",
        F.explode("_cells").alias("_cell"),  # query fan-out: nprobe rows
    )
    return c_cells.alias("c").join(
        F.broadcast(q),
        (F.col("c._cell") == q["_cell"]) & (F.col("query_id") != F.col("c.vec_id")),
    ).select(
        "query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        "_qvec",
        "_qn",
        F.col("c.embedding").alias("_nvec"),
        F.col("c._nn").alias("_nn"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN top-k: exact cosine over the candidates from
    :func:`ivf_candidate_pairs` (codebook/probing rationale and the
    recall-vs-probed-mass knobs documented there)."""
    cand = ivf_candidate_pairs(corpus, queries, num_cells, nprobe)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("_qvec"), F.col("_nvec"), F.col("_qn"), F.col("_nn")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold (id_a < id_b).
    ``max_id`` bounds the quadratic blowup for the oracle-checked small
    variant; the scale path is lsh_topk_multi / bucketed join."""
    base = df if max_id is None else df.filter(F.col("vec_id") < max_id)
    # norms hoisted to the linear-sized sides (identical doubles, two
    # fewer O(d) folds per pair — see cosine_with_norms)
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        norm(F.col("embedding")).alias("_na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        norm(F.col("embedding")).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _pq_codebooks(X: np.ndarray, num_subspaces: int, ks: int) -> np.ndarray:
    """Per-subspace k-means codebooks for product quantization, trained
    on the same bounded deterministic sample as the IVF coarse
    quantizer. Returns ``(num_subspaces, ks, sub_dim)``; subspace m
    quantizes columns ``[m*sub_dim, (m+1)*sub_dim)`` of the L2-normalized
    vector."""
    dim = X.shape[1]
    sub = dim // num_subspaces
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return np.stack(
        [
            _kmeans_codebook(Xn[:, m * sub : (m + 1) * sub], ks, seed=13 + m)
            for m in range(num_subspaces)
        ]
    )


def pq_scored_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    num_subspaces: int = 8,
    ks: int = 16,
) -> DataFrame:
    """Product-quantization ANN scan (Jégou et al., PQ for nearest
    neighbor search): corpus vectors are compressed to ``num_subspaces``
    codebook ids (8 bytes/vector at the defaults vs 512 for raw float64
    — a 64× scan-volume reduction), queries score the compressed codes
    via asymmetric distance computation.

    Spark shape — every stage is map-only until the final top-k:

    - codebooks train driver-side on the bounded ≤4096-row deterministic
      sample (the IVF offline-training pattern, argued at
      :func:`ivf_candidate_pairs`);
    - the QUERY side is collected (it is the bounded broadcast side in
      every ANN entry point here — collecting ≤O(100) rows to build the
      ADC lookup table is the same boundedness argument as
      ``F.broadcast(q)``) into a ``(Q, num_subspaces, ks)`` LUT of
      query-subvector × centroid inner products;
    - one ``mapInPandas`` pass over the corpus encodes each batch to
      codes and scores ALL queries against the batch in two numpy
      matmul/gather steps — approx_sim(q, v) = Σ_m LUT[q, m, code_m(v)]
      — then emits only each query's 64 best rows
      (partition-local pre-pruning: the map-side-combine analog, so the
      shuffle carries Q × keep rows per batch, never Q × |batch|).

    Output: ``(query_id, neighbor_id, approx_sim)`` — feed to
    :func:`pq_topk` for exact rerank."""
    q_rows = _bounded_query_rows(queries)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([[float(x) for x in r["embedding"]] for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    sample_rows = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(997)).asc(), F.col("vec_id").asc())
        .limit(4096)
        .collect()
    )
    X = np.array([[float(x) for x in r["embedding"]] for r in sample_rows])
    books = _pq_codebooks(X, num_subspaces, ks)  # (M, ks, sub)
    sub = X.shape[1] // num_subspaces
    # ADC lookup table: LUT[q, m, j] = <q_m, centroid_{m,j}>
    lut = np.einsum("qmd,mjd->qmj", Qn.reshape(len(Qn), num_subspaces, sub), books)

    out_schema = "query_id bigint, neighbor_id bigint, approx_sim double"

    def score_partition(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            Vs = Vn.reshape(len(Vn), num_subspaces, sub)
            # encode: nearest centroid per subspace on the NORMALIZED
            # vector (codebooks trained normalized, so train/encode agree)
            codes = np.stack(
                [
                    ((Vs[:, m, None, :] - books[m][None, :, :]) ** 2)
                    .sum(axis=-1)
                    .argmin(axis=1)
                    for m in range(num_subspaces)
                ],
                axis=1,
            )  # (B, M)
            # ADC: scores[q, b] = sum_m lut[q, m, codes[b, m]]
            scores = np.zeros((len(q_ids), len(ids)))
            for m in range(num_subspaces):
                scores += lut[:, m, codes[:, m]]
            keep = min(64, len(ids))
            # per-query partial top-keep; ties broken by neighbor id via
            # stable argsort on (-score, id-order already stable)
            top = np.argsort(-scores, axis=1, kind="stable")[:, :keep]
            qi = np.repeat(q_ids, keep)
            ni = ids[top].ravel()
            sc = np.take_along_axis(scores, top, axis=1).ravel()
            m_self = qi != ni
            yield pd.DataFrame(
                {"query_id": qi[m_self], "neighbor_id": ni[m_self], "approx_sim": sc[m_self]}
            )

    return corpus.select("vec_id", "embedding").mapInPandas(score_partition, out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 8,
    ks: int = 16,
    rerank: int = 8,
) -> DataFrame:
    """PQ ANN top-k with exact rerank: take each query's ``rerank * k``
    best compressed-domain candidates, fetch ONLY those full vectors
    (semi-join back to the corpus — the fraction of raw vectors read is
    ``rerank*k/|corpus|``, the number q_pq_recall reports), score exact
    cosine, keep top-k. Same output schema as brute_force_topk."""
    cand = pq_scored_candidates(corpus, queries, num_subspaces, ks)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id").asc()
    )
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rerank * k)
        .drop("_rn")
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"))
    rescored = (
        short.join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nvec")),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qvec"), F.col("_nvec")), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN composition (coarse
    cells bound WHICH rows are scored, PQ codes bound HOW MUCH of each
    row is read). Cost per query at 100 TB:
    ``nprobe/num_cells`` of the corpus × ``num_subspaces`` code bytes
    (vs the full float vector), plus ``rerank*k`` raw-vector reads —
    multiplicative savings over either technique alone.

    Spark shape: one mapInPandas over the corpus emits (cell, codes)
    — a single pass shared by both quantizers; the query side (bounded,
    broadcast) explodes to its top-``nprobe`` cells; the bucket join
    pairs queries with co-celled codes only; ADC scoring is an
    Arrow-batched LUT gather per pair batch; exact rerank fetches the
    top ``rerank*k`` raw vectors per query. Codebooks train driver-side
    on the bounded deterministic sample (offline-training pattern,
    argued at :func:`ivf_candidate_pairs`)."""
    from pyspark.sql.functions import pandas_udf

    num_cells, nprobe, num_subspaces, ks, rerank = 32, 14, 32, 16, 4

    sample_rows = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(997)).asc(), F.col("vec_id").asc())
        .limit(4096)
        .collect()
    )
    X = np.array([[float(x) for x in r["embedding"]] for r in sample_rows])
    cents = _kmeans_codebook(X, num_cells)
    cents_n = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    books = _pq_codebooks(X, num_subspaces, ks)
    dim = X.shape[1]
    sub = dim // num_subspaces
    n_probe = min(nprobe, len(cents_n))

    q_rows = _bounded_query_rows(queries)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([[float(x) for x in r["embedding"]] for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    lut = np.einsum("qmd,mjd->qmj", Qn.reshape(len(Qn), num_subspaces, sub), books)
    q_pos = {int(qid): i for i, qid in enumerate(q_ids)}

    enc_schema = "vec_id bigint, _cell int, _codes array<int>"

    def encode(batches):
        for pdf in batches:
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            cell = (Vn @ cents_n.T).argmax(axis=1).astype("int32")
            Vs = Vn.reshape(len(Vn), num_subspaces, sub)
            codes = np.stack(
                [
                    ((Vs[:, m, None, :] - books[m][None, :, :]) ** 2)
                    .sum(axis=-1)
                    .argmin(axis=1)
                    .astype("int32")
                    for m in range(num_subspaces)
                ],
                axis=1,
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "_cell": cell, "_codes": list(codes)}
            )

    encoded = corpus.select("vec_id", "embedding").mapInPandas(encode, enc_schema)

    @pandas_udf("array<int>")
    def query_cells(vecs: pd.Series) -> pd.Series:
        V = np.vstack(vecs.to_numpy())
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        top = np.argsort(-(Vn @ cents_n.T), axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(top))

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(query_cells(F.col("embedding"))).alias("_cell"),
    )

    @pandas_udf("double")
    def adc(query_id: pd.Series, codes: pd.Series) -> pd.Series:
        qi = np.array([q_pos[int(x)] for x in query_id.to_numpy()])
        C = np.vstack(codes.to_numpy())  # (B, M)
        s = np.zeros(len(qi))
        for m in range(num_subspaces):
            s += lut[qi, m, C[:, m]]
        return pd.Series(s)

    cand = encoded.join(
        F.broadcast(q),
        (encoded["_cell"] == q["_cell"]) & (F.col("query_id") != encoded["vec_id"]),
    ).select(
        "query_id",
        encoded["vec_id"].alias("neighbor_id"),
        adc(F.col("query_id"), F.col("_codes")).alias("approx_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id").asc()
    )
    short = cand.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= rerank * k
    )
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"))
    rescored = (
        short.join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nvec")),
            "neighbor_id",
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qvec"), F.col("_nvec")), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def centroid_assign(
    df: DataFrame,
    num_cells: int,
    out_col: str = "_cell",
) -> DataFrame:
    """Assign every vector to its nearest of ``num_cells`` k-means
    centroids — the IVF coarse-quantizer re-used as a standalone
    clustering step (the exact sample/train/assign pattern of
    :func:`ivf_candidate_pairs`): codebook trained driver-side on a
    BOUNDED deterministic sample (≤4096 rows via hash-ordered
    TakeOrdered — no unbounded collect), assignment a row-local
    Arrow-batched matmul against the closed-over codebook. Zero
    exchanges beyond the scan; the output column is a plain int cell id
    usable as any downstream groupBy/join key."""
    from pyspark.sql.functions import pandas_udf

    sample_rows = (
        df.select("vec_id", "embedding")
        .orderBy(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(997)).asc(), F.col("vec_id").asc())
        .limit(4096)
        .collect()
    )
    X = np.array([[float(x) for x in r["embedding"]] for r in sample_rows])
    cents = _kmeans_codebook(X, num_cells)
    cents_n = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        V = np.vstack(vecs.to_numpy())
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        return pd.Series((Vn @ cents_n.T).argmax(axis=1).astype("int32"))

    return df.withColumn(out_col, cell_of(F.col("embedding")))


#: Auto-recluster trigger: when the MEAN upstream cluster size exceeds
#: this, the pair stage's sum(|cluster|^2) cost has left the linear
#: regime (PERFORMANCE.md §64: 2,000-row mean cells ran 100.3x on 10x
#: data) — the operator re-clusters instead of trusting the caller's
#: partitioner. Below it the caller's clusters pass through untouched,
#: so driver-scale corpora (mean 50-200) keep their label semantics and
#: oracles bit-for-bit.
SEM_DEDUP_MAX_MEAN_CELL = 1024
#: Granularity the derived re-cluster targets: cells ≈ N / this, so the
#: expected pair cost per cell stays ~TARGET^2 and total ~N * TARGET —
#: linear in the corpus at fixed target. 200 reproduces the r09
#: measured valve exactly (sf1.0: 100 cells → 15.4 s vs 164 s fixed).
SEM_DEDUP_TARGET_CELL = 200
#: Derived cell count never exceeds the k-means codebook sample bound
#: (centroid_assign trains on ≤4096 rows — more cells than sample
#: points is degenerate). At the cap, mean cell size grows as N/4096:
#: the documented codebook-sample boundedness class.
SEM_DEDUP_MAX_CELLS = 4096

#: Observability: the cell count the last semantic_dedup call derived
#: (None = no re-cluster), mirroring dedup.LAST_CC_ROUNDS — so scale
#: studies and tests can see the valve's decision, not just its wall.
LAST_SEMDEDUP_CELLS: "int | None" = None

#: Salt fan for the pair stage (r14): :func:`joins.salted_join` splits
#: each cluster's pair space S ways so a hot cluster cannot serialize
#: the quadratic cosine stage; the b-side replicates S×, the accepted
#: linear cost of splitting a quadratic stage.
SEM_DEDUP_SALTS = 8


def semantic_dedup(
    df: DataFrame,
    cluster_col: str = "label",
    threshold: float = 0.3,
    recluster_cells: "int | str | None" = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop every vector that has
    a LOWER-id neighbor above ``threshold`` cosine *within its cluster*
    (min-id dominance — the deterministic reading of "keep one per
    semantic duplicate group").

    The cluster column bounds the pairwise comparison — the whole point
    of the cluster-then-dedup design: cost is sum(|cluster|^2), never
    |corpus|^2, and the pair join is an equi-join on the cluster id,
    salted so one hot cluster spreads over :data:`SEM_DEDUP_SALTS`
    tasks. Upstream clustering can be the corpus' own label, or
    :func:`centroid_assign` output at 100 TB.
    Cosine is rounded to 6 places before thresholding, the same boundary
    contract as :func:`cosine_pairs`.

    ``recluster_cells`` is the scale valve from the sf1.0 study
    (PERFORMANCE.md §64): with FIXED upstream labels, sum(|cluster|^2)
    grows quadratically as the corpus grows — measured 164 s at sf1.0 vs
    15.4 s after re-clustering at corpus-tracking granularity. r10
    (verdict ask #1, the finding-93 "pin the contract in the operator"
    precedent): the default is ``"auto"`` — one cheap aggregate
    (count + countDistinct, a single job on the linear-sized input)
    measures the mean cluster size, and when it exceeds
    :data:`SEM_DEDUP_MAX_MEAN_CELL` the operator REPLACES the cluster
    column with a :func:`centroid_assign` cell id at
    ``≈ N / SEM_DEDUP_TARGET_CELL`` cells (capped at
    :data:`SEM_DEDUP_MAX_CELLS`, the codebook sample bound) before the
    pair stage — same dominance semantics, ~linear cost, no manual knob
    to forget at 100 TB. Below the trigger the caller's clusters pass
    through untouched (label-cluster oracles stay bit-exact). Pass an
    int to force a granularity, or ``None`` to force pass-through (the
    pre-r10 behavior)."""
    global LAST_SEMDEDUP_CELLS
    if recluster_cells == "auto":
        n, n_clusters = df.agg(
            F.count("*"), F.countDistinct(F.col(cluster_col))
        ).first()
        recluster_cells = None
        if n and n / max(n_clusters, 1) > SEM_DEDUP_MAX_MEAN_CELL:
            recluster_cells = min(
                SEM_DEDUP_MAX_CELLS,
                max(-(-n // SEM_DEDUP_TARGET_CELL), n_clusters + 1, 2),
            )
            if recluster_cells <= n_clusters:
                # the codebook cap binds BELOW the caller's own
                # granularity: re-clustering would be COARSER than what
                # we already have and raise sum(|cell|^2), not lower it
                # (r10 review finding — n=20M in 10k clusters derived
                # 4096 capped cells, ~2.4x the pair cost of
                # pass-through). Keep the finer caller clustering.
                recluster_cells = None
    LAST_SEMDEDUP_CELLS = recluster_cells if isinstance(recluster_cells, int) else None
    if recluster_cells is not None:
        df = centroid_assign(df, recluster_cells, out_col="_semcell")
        cluster_col = "_semcell"
    # norms computed ONCE per vector on the linear-sized join inputs,
    # not inside the cluster-quadratic pair stage (identical doubles;
    # the pairwise filter drops from 3 O(d) folds to 1 — measured 5.1 s
    # -> below 2 s at sf0.1 on the 400k-pair corpus)
    #
    # The pair stage's parallelism is capped at the number of distinct
    # clusters (10 labels at sf0.1 ran the Σ|cluster|² cosine stage as
    # ONE 1.34 s task), so the cluster join is salted. Both sides are
    # corpus-scale, so the join is pinned shuffle_hash, building from
    # the unexploded salted side (the finding-93/94 mis-broadcast class).
    a = df.select(
        F.col(cluster_col).alias("_cl"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        norm(F.col("embedding")).alias("_na"),
    )
    b = df.select(
        F.col(cluster_col).alias("_cl"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        norm(F.col("embedding")).alias("_nb"),
    )
    dominated = (
        salted_join(a.hint("shuffle_hash"), b, "_cl", "id_a", SEM_DEDUP_SALTS)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                cosine_with_norms(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            )
            >= threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return df.join(dominated, "vec_id", "left_anti").drop("_semcell")


def sq8_quantize_params(corpus: DataFrame) -> tuple[list, list]:
    """Per-dimension (min, scale) for 8-bit scalar quantization, from
    one posexplode aggregate. dim rows collected — bounded by the
    embedding dimensionality (the codebook-sample boundedness class,
    not a data-sized collect)."""
    stats = (
        corpus.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("d")
        .collect()
    )
    mins = [r.lo for r in stats]
    scales = [max((r.hi - r.lo) / 255.0, 1e-12) for r in stats]
    return mins, scales


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN: every corpus vector stored as one
    byte per dimension (8× less scan volume than float64), scored
    approximately against raw queries on the DEQUANTIZED values, then
    the top ``rerank·k`` candidates per query are exactly rescored with
    the full vectors. The fourth point on the ANN cost/recall curve —
    SQ8 keeps per-dimension resolution (unlike PQ's subspace
    clustering) at 2× PQ's footprint, which is why real systems pick it
    when recall matters more than scan volume.

    Quantization params come from one bounded aggregate; dequantization
    is a JVM zip_with over literal arrays (constant-time per element —
    no HOF blowup, the arrays are literals)."""
    from automated_property_data_ingestion_document_pipeline_spark.functions.vectors import cosine

    mins, scales = sq8_quantize_params(corpus)
    lit_mins = F.array(*[F.lit(float(m)) for m in mins])
    lit_scales = F.array(*[F.lit(float(s)) for s in scales])
    # quantize: one byte per dim (stored as tinyint-ranged int)
    codes = F.zip_with(
        F.zip_with(
            F.col("embedding").cast("array<double>"), lit_mins, lambda x, m: x - m
        ),
        lit_scales,
        lambda cm, s: F.least(
            F.greatest(F.round(cm / s), F.lit(0.0)), F.lit(255.0)
        ).cast("int"),
    )
    # dequantize for scoring: x̂ = min + code·scale
    deq = F.zip_with(
        F.zip_with(F.col("_codes").cast("array<double>"), lit_scales, lambda c, s: c * s),
        lit_mins,
        lambda cs, m: cs + m,
    )
    comp = corpus.select(F.col("vec_id"), codes.alias("_codes")).withColumn("_deq", deq)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"))
    approx = comp.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("_qvec"), F.col("_deq")).alias("_approx"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_approx").desc(), F.col("neighbor_id").asc()
    )
    cands = (
        approx.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    # exact rerank: fetch full vectors for candidates only
    exact = (
        cands.join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cvec")),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
