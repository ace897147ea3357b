"""Oracle-verified MinHash + LSH banding near-duplicate detection.

The production MinHash lane (operators/dedup.py, `q_minhash_neardup`)
hashes with Spark's xxhash64 — fast, JVM-side, but engine-specific, so
its driver check has always been rows-only. This module is the
PORTABLE twin: every hash is md5 (bit-identical across Spark and
DuckDB), every signature component is a lexicographic MIN over
fixed-length hex strings (= numeric min over the 128-bit values), and
every stage — shingling, 16-way signature, 4×4 banding, candidate
bucket join, exact-Jaccard verification — is expressed identically in
both engines. Result: the full LSH pipeline's OUTPUT is value-hashed
by the driver, upgrading X4 near-dup from rows-only to oracle-backed.

Scale shape (same as the xxhash lane): one explode + one 16-aggregate
shuffle for signatures; banding is row-local; the bucket join is an
equi-join on (band, hash) — candidates only, NEVER all pairs; the
Jaccard verify joins shingle sets only for candidate pairs. md5 costs
~3× xxhash64 per call — the xxhash lane remains the recommended
production path; this lane exists to PROVE the algorithm end to end
(and for cross-engine reproducibility requirements, where a portable
hash is the contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark import catalog
from automated_property_data_ingestion_document_pipeline_spark.operators.bucketing import BASE_BUCKETS
from automated_property_data_ingestion_document_pipeline_spark.operators.joins import salted_join
from automated_property_data_ingestion_document_pipeline_spark.plans.registry import query
from automated_property_data_ingestion_document_pipeline_spark.functions.text import WS_SPLIT
from automated_property_data_ingestion_document_pipeline_spark.plans.queries_text import _ANCHOR_LEN

_K = 16          # signature length
_BANDS = 4       # 4 bands x 4 rows
_JACC_MIN = 0.3  # verification threshold on exact Jaccard
# Granularity knob, measured at sf10 (SCALE_STUDY r13_lanes,
# scripts/banding_ab.py): with this lane's LOW verification threshold
# (0.3), more rows/band erases the J in [0.3,0.7) tail (4*0.5^8 ~ 1.6%
# band-collision at J=0.5) and 2x8 at constant K loses 13.4% of even
# the J>=0.7 pairs — so 4x4 stays registered. Lanes verifying at
# J>=0.5 should use the xx composition at r=3-4 instead (see
# queries_text._ensure_xx_base). The b-raising direction (8x2) filled
# 43 GB of scratch with candidate shuffle and died ENOSPC at sf10 —
# never widen bands at scale.


def _sig_cols_sql() -> str:
    return ",\n               ".join(
        f"MIN(md5('{s}:' || sh)) AS s{s}" for s in range(_K)
    )


def _band_sql(b: int) -> str:
    parts = " || ".join(f"s{b * 4 + i}" for i in range(4))
    return f"SELECT doc_id, {b} AS band, md5({parts}) AS bh FROM sig"


def _portable_ctes_sql() -> str:
    """The shared toks → shingles → sig → bands CTE prefix. The md5
    portable contract (tokenization, 3-gram shingling, 16-way seeded
    min signature, 4×4 banding) is used by BOTH the full-corpus lane
    and the incremental delta probe — it lives HERE exactly once, in
    lockstep with the Spark-side helpers below (r10 review: the two
    lanes initially duplicated all four stages in both languages)."""
    return f"""toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS arr
        FROM documents WHERE text IS NOT NULL
    ),
    shingles AS (
        SELECT DISTINCT doc_id, u.x[1] || ' ' || u.x[2] || ' ' || u.x[3] AS sh
        FROM toks,
        LATERAL (
            SELECT unnest(list_zip(arr[1:len(arr)-2], arr[2:len(arr)-1],
                                   arr[3:len(arr)])) AS x
        ) u
        WHERE len(arr) >= 3
    ),
    sig AS (
        SELECT doc_id,
               {_sig_cols_sql()}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(_band_sql(b) for b in range(_BANDS))}
    )"""


def _portable_shingles(docs: DataFrame) -> DataFrame:
    """Spark half of the portable contract: per-doc DISTINCT word
    3-gram shingles over lowercase [^a-z0-9]+ tokenization."""
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
        ).alias("arr"),
    ).filter(F.size("arr") >= 3)
    n1 = F.size("arr") - 2
    grams = F.zip_with(
        F.slice("arr", 1, n1),
        F.zip_with(
            F.slice("arr", 2, n1), F.slice("arr", 3, n1), lambda b, c: F.concat_ws(" ", b, c)
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    return toks.select("doc_id", F.explode(grams).alias("sh")).distinct()


def _portable_bands(
    shingles: DataFrame, bands: int = _BANDS, rows: int = _K // _BANDS
) -> DataFrame:
    """``bands*rows``-way seeded-min md5 signature in one grouped
    aggregate, then ``bands`` row-local band hashes, unioned to
    (doc_id, band, bh). Defaults are the registered-oracle parameters
    (4×4 over a 16-signature) — every registered lane calls with
    defaults, so the oracle contract is untouched; the (bands, rows)
    knob exists for the granularity study (scripts/banding_ab.py):
    at fixed verification threshold, more rows per band tightens the
    LSH s-curve and shrinks the candidate pair stream (the Σ n_b²
    spill source at sf10) at the cost of a wider signature.

    r13 tried a one-pass posexplode instead of the bands-way
    unionByName (the union re-runs the signature aggregate's final
    stage per branch; the explode measured 0.74 → 0.50 s warm on the
    isolated bands step, row-identical output) — and REVERTED it: a
    Generate in the delta-bands subtree changes its size estimate,
    and the COMPOSED q_neardup_incremental probe regressed ~2x on a
    same-floor A/B (explode 6.8-10.8 s median-of-3 across two fresh
    processes vs union 4.7 s on the same slowed machine floor; both
    forms ~2.3 s on the earlier fast floor). Plan stability under
    estimate drift beats the one-stage saving — keep the union."""
    sig = shingles.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))).alias(f"s{s}")
            for s in range(bands * rows)
        ]
    )
    out = None
    for b in range(bands):
        part = sig.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.md5(F.concat(*[F.col(f"s{b * rows + i}") for i in range(rows)])).alias("bh"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def ensure_portable_base(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str, str]:
    """Build-once-per-corpus persistence of the portable near-dup BASE
    (r12, verdict ask #3 — generalizing the r11 incremental-lane
    infrastructure to every full-corpus lane): four corpus-
    fingerprint-stamped bucket-sorted warehouse tables over the FULL
    non-null corpus —

    - shingles        (doc_id, sh)  bucketed+sorted (doc_id, sh)
    - shingles_bydoc  (doc_id, sh)  bucketed doc_id, sorted (doc_id, sh)
    - bands   (doc_id, band, bh)    bucketed+sorted (band, bh)
    - sizes   (doc_id, n_sh)        bucketed+sorted doc_id

    The shingle relation is persisted TWICE, one layout per join shape
    the verify stage needs: the intersection join keys (doc_id, sh)
    and the candidate-pair attach keys (doc_id) alone. One table
    cannot serve both — Spark only exploits a bucketed side when the
    join keys cover ALL bucket columns (and under the default
    ``spark.sql.requireAllClusterKeysForCoPartition`` it will not
    co-partition the other side on a strict subset), so a doc_id-only
    bucket re-sorts the intersection side and a (doc_id, sh) bucket
    re-shuffles the attach side. Duplicating the bytes buys BOTH
    shapes zero base-side Exchange and zero Sort — at 100 TB, storage
    is strictly cheaper than re-sorting the corpus' shingle relation
    on every dedup run (the sf10 finding-104 spill source).

    Returns (shingles, shingles_bydoc, bands, sizes) table names; the
    first caller per corpus pays the one-time banding build (the work
    every lane previously repeated inline per run), later sessions
    adopt the on-disk build via its _graft_stamp (ensure_bucketed
    tier 2, zero data movement). Table names carry
    :func:`bucketing.corpus_table_tag` (basename + path hash), so
    same-basename tmp corpora never thrash one table (r12 ADVICE);
    orphaned corpora are reclaimed by scripts/gc_warehouse.py."""
    import os as _os

    from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing

    tag = bucketing.corpus_table_tag(sf_dir)
    # the fingerprint carries every CONTENT parameter the tables are a
    # function of (corpus bytes + shingle/signature/banding constants);
    # the physical bucket spec is folded into the stamp by
    # ensure_bucketed itself, so a layout change rebuilds without any
    # caller-side bookkeeping. v2: full-corpus tables (r11's v1 held
    # base-only rows for the incremental lane alone).
    fp = (
        bucketing.corpus_fingerprint(_os.path.join(sf_dir, "documents.parquet"))
        + f":v2:k3 s{_K} b{_BANDS}"
    )
    sh_t = f"b_nd_shingles_{tag}"
    bydoc_t = f"b_nd_shingles_bydoc_{tag}"
    bands_t = f"b_nd_bands_{tag}"
    sz_t = f"b_nd_sizes_{tag}"
    nb = BASE_BUCKETS
    docs = catalog.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bucketing.ensure_bucketed(
        spark, sh_t, ["doc_id", "sh"], fp,
        lambda: _portable_shingles(docs).repartition(nb, "doc_id", "sh"),
        num_buckets=nb,
    )
    # the second layout and the derived tables all read the
    # just-persisted shingle table, so the corpus-wide shingle explode
    # runs ONCE per build, not once per table
    bucketing.ensure_bucketed(
        spark, bydoc_t, "doc_id", fp,
        lambda: spark.table(sh_t).repartition(nb, "doc_id"),
        num_buckets=nb, sort_keys=["doc_id", "sh"],
    )
    bucketing.ensure_bucketed(
        spark, bands_t, ["band", "bh"], fp,
        lambda: _portable_bands(spark.table(sh_t)).repartition(nb, "band", "bh"),
        num_buckets=nb,
    )
    bucketing.ensure_bucketed(
        spark, sz_t, "doc_id", fp,
        lambda: spark.table(sh_t)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
        .repartition(nb, "doc_id"),
        num_buckets=nb,
    )
    return sh_t, bydoc_t, bands_t, sz_t


@query(
    "q_minhash_portable",
    oracle=f"""
    WITH {_portable_ctes_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_a
        JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / CAST(za.n_sh + zb.n_sh - i.n_common AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
          / CAST(za.n_sh + zb.n_sh - i.n_common AS DOUBLE) >= {_JACC_MIN}
    """,
)
def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash→LSH→verify near-dup pipeline with portable md5
    hashing, value-verified by the driver (see module docstring). Word
    3-gram shingles → 16 lexicographic-MIN hex signatures in ONE
    grouped aggregate → 4 row-local band hashes → bucket equi-join for
    candidates → exact Jaccard on candidate shingle sets only.

    r12 (verdict ask #3): the shingle/band/size base reads the
    PERSISTED bucket-sorted tables (:func:`ensure_portable_base`)
    instead of re-banding the corpus inline every run. The candidate
    self-join is now a zero-Exchange bucketed merge of the bands table
    with itself, and the verify stage streams bucket-sorted shingles —
    at sf10 the inline form shuffled 45.6 GB and spilled 345 GB of
    memory sorting the corpus' shingle relation per run; the persisted
    form pays that once per corpus at build time. Results are
    bit-identical (same oracle hash). r13: the cand→verify pipeline is
    shared with the banding-granularity study as
    :func:`_portable_pairs_from_tables` — same plan, same pins."""
    sh_t, bydoc_t, bands_t, sz_t = ensure_portable_base(spark, sf_dir)
    return _portable_pairs_from_tables(spark, sh_t, bydoc_t, bands_t, sz_t)


def _portable_pairs_from_tables(
    spark: SparkSession,
    sh_t: str,
    bydoc_t: str,
    bands_t: str,
    sz_t: str,
) -> DataFrame:
    """The candidate-join + exact-Jaccard-verify pipeline over
    PERSISTED base tables — the body of q_minhash_portable, split out
    (r13) so scripts/banding_ab.py can run the IDENTICAL physical plan
    against variant-banded tables. All join-strategy pins (merge for
    the bucketed band self-join, shuffle_hash building from the
    bucketed shingle/size side — see the comments below) live here
    exactly once."""
    bands = spark.table(bands_t)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("band").alias("band_a"), F.col("bh").alias("bh_a")
    )
    b_ = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band_b"), F.col("bh").alias("bh_b")
    )
    cand = (
        a.hint("merge")
        .join(
            b_,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bh_a") == F.col("bh_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sizes = spark.table(sz_t)
    # one shingle layout per join shape (see ensure_portable_base): the
    # pair-attach join keys doc_a alone → the doc_id-bucketed copy; the
    # intersection join keys (doc_b, sh) → the (doc_id, sh) bucket
    sa = spark.table(bydoc_t).select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = spark.table(sh_t).select(
        F.col("doc_id").alias("_db"), F.col("sh").alias("sh_b")
    )
    # every relation below GROWS WITH THE CORPUS (shingle sets, candidate
    # pairs, per-doc sizes), so none may ever broadcast: Spark's
    # post-aggregate size estimates are unreliable and at sf10 the
    # planner broadcast the ENTIRE deduped shingle relation — the
    # largest thing in the lane — OOM-guarding the job
    # (notEnoughMemoryToBuildAndBroadcastTable, finding 93). Pins (r12,
    # finding 109): the shingle joins build SHUFFLED HASH tables from
    # the BUCKETED table side — each build is one bucket file
    # (corpus/nb rows, bounded by the bucket-sizing rule) read with no
    # Exchange, while the STREAM side (candidate pairs, then
    # pairs×shingles — the relations that grow super-linearly on
    # dup-dense corpora) is never sorted: under the previous merge pins
    # the pair-attach sort was 213 GB of the lane's 214 GB sf10 spill.
    inter = (
        cand.join(sa.hint("shuffle_hash"), "doc_a")
        .join(
            sb.hint("shuffle_hash"),
            (F.col("doc_b") == F.col("_db")) & (F.col("sh_b") == F.col("sh_a")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(za.hint("shuffle_hash"), "doc_a")
        .join(zb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            >= _JACC_MIN
        )
    )
    return out


_SH_BITS = 16


@query(
    "q_simhash_portable",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, u.tok,
               CAST(('0x' || substr(md5(u.tok), 1, 4)) AS INT) AS h
        FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS arr
            FROM documents WHERE text IS NOT NULL
        ),
        LATERAL (SELECT unnest(arr) AS tok) u
    ),
    votes AS (
        SELECT doc_id,
               {", ".join(
                   f"CAST(SUM(2 * ((h >> {b}) & 1) - 1) AS BIGINT) AS v{b}"
                   for b in range(_SH_BITS)
               )}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(
               f"(CASE WHEN v{b} > 0 THEN 1 ELSE 0 END << {b})"
               for b in range(_SH_BITS)
           )} AS BIGINT) AS simhash,
           CAST(bit_count(CAST({" + ".join(
               f"(CASE WHEN v{b} > 0 THEN 1 ELSE 0 END << {b})"
               for b in range(_SH_BITS)
           )} AS BIGINT)) AS INT) AS popcount
    FROM votes
    """,
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 16-bit SimHash signatures, VALUE-verified: each token
    votes ±1 per bit position from its md5-derived 16-bit hash; the
    signature takes the sign of each position's vote total. Because
    md5, the hex-prefix slice, and the vote arithmetic are bit-
    identical across engines, the driver hash-checks the SIGNATURES
    themselves — the construction the production 63-bit xxhash lane
    (operators/dedup.py, rows-only) implements at 4× the width. One
    explode + one grouped aggregate carrying 16 small longs: the
    map-side-combine shape that survives 100 TB. Token multiplicity
    COUNTS (standard SimHash weighting by term frequency — no
    distinct before the vote)."""
    docs = catalog.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
        ).alias("tok"),
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int")
    toks = toks.select("doc_id", h.alias("h"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.shiftright("h", b).bitwiseAND(1) - 1)
            .cast("bigint")
            .alias(f"v{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = None
    for b in range(_SH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1)).otherwise(F.lit(0)) * (2 ** b)
        sig = bit if sig is None else sig + bit
    return votes.select(
        "doc_id",
        sig.cast("bigint").alias("simhash"),
        F.expr(
            "bit_count(cast("
            + " + ".join(
                f"(case when v{b} > 0 then 1 else 0 end * {2 ** b})"
                for b in range(_SH_BITS)
            )
            + " as bigint))"
        ).cast("int").alias("popcount"),
    )


# -- embedding near-dup, portable twin -----------------------------------------
#
# The production lane (q_embedding_neardup, plans/queries_advanced.py)
# buckets on xxhash-seeded random hyperplanes — engine-specific, so its
# driver check is rows-only. This twin makes the ENTIRE pipeline
# portable, the q_minhash_portable pattern applied to vectors:
#
# - the hyperplane matrix is a ±1 sign table derived from md5 in PYTHON
#   at module load (planes are data-independent constants) and embedded
#   as literals in BOTH the Spark plan and the oracle SQL;
# - every signature dot product runs on FLOOR(x * 1e6) BIGINT-quantized
#   components, so the sums are exact integers (|sum| ≤ 64·1e7 « 2^53 —
#   even an engine that accumulates in double is exact) and the sign
#   bits cannot depend on partial-aggregation order;
# - candidate pairs come from a bucket equi-join (never all pairs), and
#   the exact-cosine verify reuses the hoisted-norm arithmetic the
#   oracle-green q_cosine_pairs already pinned (§61 operand-tree rule).
#
# Output is the per-bucket audit (vectors, candidate pairs, verified
# near-dups ≥ 0.25, max cosine): deterministic, never empty (every
# bucket with a vector emits a row), and one value hash covers
# quantization, signature, bucketing, candidate generation, and the
# verify — upgrading embedding near-dup from rows-only to oracle-backed.

_NDP_PLANES = 4
_NDP_DIM = 64
_NDP_Q = 1_000_000.0
# pair-space split per bucket (finding 79): purely a distribution knob —
# the output is salt-invariant, so the oracle never sees it. 8 × 16
# buckets = 128 join cells, comfortably feeding 32 cores.
_NDP_SALTS = 8


def _ndp_sign(p: int, i: int) -> int:
    import hashlib

    return 1 if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] < "8" else -1


def _ndp_signs(planes: int) -> list[list[int]]:
    return [[_ndp_sign(p, i) for i in range(_NDP_DIM)] for p in range(planes)]


_NDP_SIGNS = _ndp_signs(_NDP_PLANES)


def _ndp_oracle(planes: int = _NDP_PLANES) -> str:
    signs = _ndp_signs(planes)
    bits = "\n               + ".join(
        f"(CASE WHEN list_dot_product(q, {signs[p]}::BIGINT[]) >= 0"
        f" THEN {2 ** p} ELSE 0 END)"
        for p in range(planes)
    )
    return f"""
    WITH q0 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_NDP_Q}) AS BIGINT)) AS q
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {_NDP_DIM}),
    base AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
               CAST({bits} AS INT) AS bucket
        FROM q0),
    pair AS (
        SELECT a.bucket,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        FROM base a JOIN base b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    pa AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_cand,
               CAST(SUM(CASE WHEN cos_sim >= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_neardup,
               MAX(cos_sim) AS max_cos
        FROM pair GROUP BY bucket),
    va AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vec
           FROM base GROUP BY bucket)
    SELECT va.bucket, va.n_vec,
           COALESCE(pa.n_cand, 0) AS n_cand,
           COALESCE(pa.n_neardup, 0) AS n_neardup,
           pa.max_cos
    FROM va LEFT JOIN pa ON pa.bucket = va.bucket
    """


def embedding_neardup_portable_lane(
    spark: SparkSession,
    sf_dir: str,
    planes: int = _NDP_PLANES,
) -> DataFrame:
    """The lane body, parameterized on the GRANULARITY knob (finding
    79 / the §64 lesson): per-bucket verify cost is Σ n_b² with
    n_b ≈ N / 2^planes, so plane count must track corpus size — each
    extra plane halves the quadratic stage. The registered oracle key
    pins planes=4 (its static SQL twin); scale callers raise it."""
    from automated_property_data_ingestion_document_pipeline_spark.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    signs = _ndp_signs(planes)
    e = (
        catalog.load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .filter(F.size("embedding") == _NDP_DIM)
    )
    iemb = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(_NDP_Q))
    )
    bucket = None
    for p in range(planes):
        sv = F.array(*[F.lit(s) for s in signs[p]])
        dot_p = F.aggregate(
            F.zip_with(iemb, sv, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = (dot_p >= 0).cast("int") * (2 ** p)
        bucket = bit if bucket is None else bucket + bit
    base = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("nrm"),
        bucket.alias("bucket"),
    )
    # r14: base feeds THREE consumers (both pair sides + the per-bucket
    # counts) and each re-ran the signature/norm folds over the scan
    # (profiled 3 × ~0.8 s single-task at sf0.1 — HOF folds are not
    # codegen'd, so the re-run is real CPU). One eager cut computes it
    # once; every downstream join here is linear-sized and unpinned, so
    # AQE's runtime stats (not the LogicalRDD's missing estimate)
    # still pick the strategies.
    from automated_property_data_ingestion_document_pipeline_spark.lineage import cut_lineage

    base = cut_lineage(base, durable=False)
    # SALTED bucket join (finding 79): 2^planes buckets cap the equi-join's
    # parallelism at 16 tasks, and when the corpus side fits the broadcast
    # threshold the quadratic verify inherits the SCAN's partitioning (ONE
    # file split at sf1.0 → 111 s on one core). Left unpinned: a
    # shuffle_hash pin measured one more hash exchange (3 → 4) at both
    # sf0.001 and sf0.1.
    a = base.select(
        "bucket",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("_va"),
        F.col("nrm").alias("_na"),
    )
    b = base.select(
        "bucket",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    cos = F.round(
        cosine_with_norms(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
    )
    pa = (
        salted_join(a, b, "bucket", "id_a", _NDP_SALTS)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_cand"),
            F.sum(F.when(cos >= 0.25, 1).otherwise(0)).cast("long").alias("n_neardup"),
            F.max(cos).alias("max_cos"),
        )
    )
    va = base.groupBy("bucket").agg(F.count("*").alias("n_vec"))
    return va.join(pa, "bucket", "left").select(
        "bucket",
        "n_vec",
        F.coalesce("n_cand", F.lit(0).cast("long")).alias("n_cand"),
        F.coalesce("n_neardup", F.lit(0).cast("long")).alias("n_neardup"),
        "max_cos",
    )


@query("q_embedding_neardup_portable", oracle=_ndp_oracle())
def q_embedding_neardup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH embedding near-dup with a PORTABLE deterministic
    hyperplane matrix, value-verified end to end (see block comment):
    BIGINT-quantized signature dots → 4-bit bucket → salted bucket
    equi-join candidates → hoisted-norm exact-cosine verify at 0.25 →
    per-bucket audit. Scale shape matches the production lane:
    signatures are map-only, candidates are bounded by bucket occupancy
    (never all pairs), the verify runs only inside buckets; plane count
    is the corpus-tracking granularity knob (finding 79) — this oracle
    key pins planes=4 to keep its SQL twin static."""
    return embedding_neardup_portable_lane(spark, sf_dir)


# -- winnowing fingerprints (MOSS) --------------------------------------------

_WINNOW_K = 4  # tokens per k-gram
_WINNOW_W = 4  # window size: any shared run >= w+k-1 tokens is GUARANTEED caught


def _winnow_fps(d: DataFrame, with_counts: bool = True) -> DataFrame:
    """DISTINCT (doc_id[, n_grams], fp) winnowing fingerprints of the
    already-NULL-filtered documents ``d`` — the shared Spark half used
    by q_winnowing (incidence stats) and q_longest_match_winnowed
    (candidate-doc gate). Mirrors :func:`_winnow_ctes_sql` exactly;
    ``with_counts=False`` skips the per-doc n_grams COUNT window (a
    whole-partition pass the gate never reads — the optimizer cannot
    prune it through the distinct)."""
    from pyspark.sql import Window

    K, W = _WINNOW_K, _WINNOW_W
    tk = F.filter(F.split("text", WS_SPLIT), lambda t: t != "")
    # r14: conditional fan-out of the gram+md5 map was measured and NOT
    # adopted — an interleaved same-process A/B on q_winnowing read
    # 0.85 s without vs 0.97 s with (the text-payload round-robin plus
    # 32-task dispatch costs more than the ~0.6 s single-task md5 work
    # it parallelizes at sf0.1; the cross-process runs that first
    # suggested a win were floor drift). Revisit only if a profile at
    # larger scale shows the single-task gram stage dominating.
    base = d.select("doc_id", tk.alias("tk"))
    idx = F.when(
        F.size("tk") >= K, F.sequence(F.lit(1), F.size("tk") - K + 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    g = base.select("doc_id", "tk", F.explode(idx).alias("pos"))
    h = g.select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice("tk", F.col("pos"), K), " ")), 1, 8
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    fp_col = (
        F.min("h")
        .over(Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, W - 1))
        .alias("fp")
    )
    if not with_counts:
        return h.select("doc_id", fp_col).distinct()
    wm = h.select(
        "doc_id",
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
        fp_col,
    )
    return wm.distinct()


def _winnow_ctes_sql() -> str:
    """DuckDB twin of :func:`_winnow_fps`: CTEs ``wtoks → wg → wh →
    wwm → wfps`` ending in DISTINCT (doc_id, n_grams, fp) — one copy,
    used by both winnowing-family oracles."""
    K, W = _WINNOW_K, _WINNOW_W
    return f"""wtoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '{WS_SPLIT}'),
                         x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    wg AS (
      SELECT doc_id, tk,
             unnest(range(1, greatest(len(tk) - {K - 1}, 0) + 1)) AS pos
      FROM wtoks),
    wh AS (
      SELECT doc_id, pos,
             CAST(('0x' || substr(md5(array_to_string(
                    tk[pos:pos+{K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
      FROM wg),
    wwm AS (
      SELECT doc_id,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_grams,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
               AS fp
      FROM wh),
    wfps AS (SELECT DISTINCT doc_id, n_grams, fp FROM wwm)"""


@query(
    "q_winnowing",
    oracle=f"""
    WITH {_winnow_ctes_sql()},
    inc AS (
      SELECT doc_id, n_grams, fp,
             COUNT(*) OVER (PARTITION BY fp) AS n_docs_with
      FROM wfps)
    SELECT doc_id, n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           ROUND(CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS shared_frac
    FROM inc GROUP BY doc_id, n_grams
    """,
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm), the third
    member of the substring-duplication family: q_dup_spans measures
    ALL shingle-level duplication (exact but |tokens|-sized state per
    shingle), MinHash sketches SET similarity (whole-document), while
    winnowing SELECTS a sparse, position-robust fingerprint subset with
    a hard GUARANTEE — any shared token run of length >= w+k-1 (here 7)
    contributes at least one common fingerprint — at expected density
    2/(w+1) of the gram stream. That bound is what makes it the
    plagiarism/license-scan workhorse: sparse enough to index, never
    misses a long match.

    Per doc: k-gram (k=4) rolling hashes by position, min-hash of each
    w=4 sliding window (partial trailing windows included — keeps every
    >=1-gram doc represented; both engines compute the identical
    variant), DISTINCT selected values form the fingerprint set;
    n_shared counts fingerprints selected by >=2 docs (the same
    unordered-COUNT-over-grouped-rows shape as q_dup_spans — no
    join-back). Hashes are md5-hex-prefix BIGINTs, portable across
    engines (the q_minhash_portable contract).

    Scale: the explode is ~|tokens| rows (the shingling cost class);
    the window min is one shuffle on doc_id; the DISTINCT + incidence
    window shuffle on fp carries only ~2/(w+1) of the gram stream —
    the winnowed sparsity is exactly what survives at 100 TB, and the
    fp-keyed incidence is a uniform-key partial-agg shuffle (md5 keys
    cannot skew)."""
    from pyspark.sql import Window

    d = catalog.load(spark, sf_dir, "documents")
    # tokenization uses the explicit whitespace class WS_SPLIT, NOT \\s:
    # Java regex \\s includes \\x0B but DuckDB's RE2 \\s does not, so the
    # same escape text is the only spelling both engines read
    # identically (r10 review finding, verified empirically). The
    # shared Spark/SQL halves live in _winnow_fps / _winnow_ctes_sql
    # (r11: also the pair prefilter of q_longest_match_winnowed).
    fps = _winnow_fps(d.filter(F.col("text").isNotNull()))
    inc = fps.withColumn("n_docs_with", F.count("*").over(Window.partitionBy("fp")))
    shared = F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0))
    return inc.groupBy("doc_id", "n_grams").agg(
        F.count("*").alias("n_fp"),
        shared.alias("n_shared"),
        F.round(shared.cast("double") / F.count("*"), 6).alias("shared_frac"),
    )


# -- winnowing-gated exact longest match --------------------------------------


@query(
    "q_longest_match_winnowed",
    oracle=f"""
    WITH {_winnow_ctes_sql()},
    cdocs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY fp) AS ndw FROM wfps)
      WHERE ndw >= 2),
    atoks AS (
      SELECT doc_id, tk FROM wtoks
      WHERE doc_id IN (SELECT doc_id FROM cdocs)),
    ash AS (
      SELECT doc_id, u.s[1] AS pos, u.s[2] AS g
      FROM atoks,
      LATERAL (
        SELECT unnest(list_zip(
          range(1, greatest(len(tk) - {_ANCHOR_LEN - 2}, 1)),
          list_transform(range(1, greatest(len(tk) - {_ANCHOR_LEN - 2}, 1)),
                         i -> array_to_string(tk[i:i+{_ANCHOR_LEN - 1}], ' ')))) AS s
      ) u),
    pp AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos - b.pos AS diag, a.pos AS pa
      FROM ash a JOIN ash b ON a.g = b.g AND a.doc_id <> b.doc_id),
    isl AS (
      SELECT da, db, diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
      FROM pp),
    runs AS (
      SELECT da, db, CAST(COUNT(*) + {_ANCHOR_LEN - 1} AS BIGINT) AS run_tokens
      FROM isl GROUP BY da, db, diag, grp),
    agg AS (
      SELECT da AS doc_id, CAST(MAX(run_tokens) AS BIGINT) AS longest_match,
             CAST(COUNT(DISTINCT db) AS BIGINT) AS n_partners
      FROM runs GROUP BY da)
    SELECT d.doc_id,
           COALESCE(a.longest_match, 0) AS longest_match,
           COALESCE(a.n_partners, 0) AS n_partners
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
)
def q_longest_match_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_longest_match's SPARSE-CORPUS GATE: identical output — per
    doc, the exact longest cross-doc token run (>= 8) and partner
    count — but the anchor self-join runs only over the CANDIDATE
    DOCUMENT SET: documents sharing at least one winnowing fingerprint
    with any other document. LOSSLESS by the winnowing guarantee
    (Schleimer et al. 2003): any shared run of >= w+k-1 = 7 tokens
    selects a common fingerprint in both documents, and every
    reportable pair shares an 8-token anchor (itself a >= 7-token
    run), so neither endpoint can be outside the candidate set. A
    32-bit fp collision only ADDS candidate docs, for which the exact
    extension reports nothing. Twin equality is pinned by a
    differential test; both lanes carry independent DuckDB oracles.

    Cost model, MEASURED not assumed: gating must happen at the DOC
    level, not the pair level — a first cut joined (da, db) candidate
    pairs against the anchor stream and ran 3-6x SLOWER than naive on
    the dup-heavy sf corpora (replicating each doc's anchors once per
    partner dwarfs the matching-anchor join). Doc-gating instead
    shrinks the naive join's INPUT: corpora where duplication is rare
    (the real-world sweep: most docs match nothing) drop to the few
    candidate docs' anchors, and dup-heavy corpora degrade gracefully
    to naive cost plus one winnowing pass. The candidate filter is a
    shuffle_hash-pinned semi-join — the doc set scales with the
    corpus, so it must never broadcast (finding-94 class)."""
    from pyspark.sql import Window

    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_text import (
        ensure_anchor_base,
    )

    d = catalog.load(spark, sf_dir, "documents")
    nn = d.filter(F.col("text").isNotNull())
    fps = _winnow_fps(nn, with_counts=False)
    inc = fps.withColumn("ndw", F.count("*").over(Window.partitionBy("fp")))
    cand_docs = inc.filter(F.col("ndw") >= 2).select("doc_id").distinct()
    # r12: the anchor stream reads the persisted per-corpus table
    # (token_anchors == the table's builder; null-text docs emit no
    # anchors, so the non-null filter is implicit). The doc-gate
    # semi-join redistributes by doc_id either way — the table saves
    # the per-run tokenize + explode of the whole corpus.
    anchors = spark.table(ensure_anchor_base(spark, sf_dir))
    sh = anchors.join(cand_docs.hint("shuffle_hash"), "doc_id", "leftsemi")
    a = sh.select(F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "g")
    b = sh.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), F.col("g").alias("gb")
    )
    pp = (
        a.hint("merge")
        .join(b, F.col("gb") == F.col("g"))
        .filter(F.col("da") != F.col("db"))
        .select("da", "db", (F.col("pa") - F.col("pb")).alias("diag"), "pa")
    )
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    isl = pp.withColumn("grp", F.col("pa") - F.row_number().over(w))
    runs = isl.groupBy("da", "db", "diag", "grp").agg(
        (F.count("*") + (_ANCHOR_LEN - 1)).cast("bigint").alias("run_tokens")
    )
    agg = runs.groupBy("da").agg(
        F.max("run_tokens").alias("longest_match"),
        F.countDistinct("db").cast("bigint").alias("n_partners"),
    )
    return (
        d.select("doc_id")
        .join(agg.withColumnRenamed("da", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("longest_match", F.lit(0).cast("bigint")).alias("longest_match"),
            F.coalesce("n_partners", F.lit(0).cast("bigint")).alias("n_partners"),
        )
    )


# -- incremental (delta-vs-base) near-dup probe -------------------------------


# Shared by q_neardup_incremental and its streaming twin
# q_stream_neardup: the probe core is row-independent across delta
# docs, so micro-batching cannot change a row and BOTH lanes carry
# this same closed-form oracle.
_INCREMENTAL_ORACLE = f"""
    WITH {{ctes}},
    cand AS (
        SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
        FROM bands d JOIN bands b
          ON d.band = b.band AND d.bh = b.bh
        WHERE d.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.delta_id, c.base_id, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.delta_id
        JOIN shingles sb ON sb.doc_id = c.base_id AND sb.sh = sa.sh
        GROUP BY c.delta_id, c.base_id
    ),
    verified AS (
        SELECT i.delta_id,
               CAST(i.n_common AS DOUBLE)
                 / CAST(za.n_sh + zb.n_sh - i.n_common AS DOUBLE) AS jacc
        FROM inter i
        JOIN sizes za ON za.doc_id = i.delta_id
        JOIN sizes zb ON zb.doc_id = i.base_id
    ),
    per_delta AS (
        SELECT delta_id,
               CAST(COUNT(*) AS BIGINT) AS n_cand,
               CAST(SUM(CASE WHEN jacc >= {_JACC_MIN} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup,
               ROUND(MAX(jacc), 6) AS max_jaccard
        FROM verified GROUP BY delta_id
    )
    SELECT t.doc_id,
           COALESCE(p.n_cand, 0) AS n_cand,
           COALESCE(p.n_dup, 0) AS n_dup,
           p.max_jaccard
    FROM (SELECT doc_id FROM documents
          WHERE text IS NOT NULL AND doc_id % 10 = 7) t
    LEFT JOIN per_delta p ON p.delta_id = t.doc_id
    """


@query(
    "q_neardup_incremental",
    oracle=_INCREMENTAL_ORACLE.format(ctes=_portable_ctes_sql()),
)
def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: probe a small arriving DELTA (the daily
    ingest batch, modeled as doc_id % 10 == 7) against the accumulated
    BASE corpus without ever forming a base x base pair — the
    production shape of dedup-at-ingest, where yesterday's corpus is
    already banded and only delta x base candidates are generated and
    verified. Same portable md5 machinery as q_minhash_portable
    (3-gram shingles, 16-way signature, 4x4 banding, exact-Jaccard
    verify at {_JACC_MIN}), but the bucket join keys delta bands
    against base bands only, so candidate count — and therefore
    verify cost — scales with |delta| x bucket density, not
    |corpus|^2. Every delta doc reports (n_cand, n_dup, max_jaccard),
    zero-candidate docs included (the 'publish it, nothing matches'
    fast path).

    Scale contract (finding 94 discipline): the delta side is
    INGEST-RATE-scale, not bounded-constant-scale, so it must NOT
    broadcast — every join pins merge/shuffle_hash (post-aggregate and
    post-explode size estimates cannot be trusted to pick a build
    side).

    Deployment shape IN the lane (r11 verdict ask #3; r12: the tables
    are now the CORPUS-WIDE triple shared with q_minhash_portable —
    :func:`ensure_portable_base` — with the base-membership predicate
    applied at scan time): the corpus is banded ONCE into three
    bucket-sorted warehouse tables — shingles bucketed doc_id / sorted
    (doc_id, sh), bands on (band, bh), shingle counts on (doc_id) —
    guarded by a corpus fingerprint (operators/bucketing.
    ensure_bucketed), and the probe then reads them with ZERO
    base-side Exchange and ZERO base-side Sort: each bucket is one
    bucket-sorted file, so the merge joins stream the base while only
    the delta (ingest-rate-sized) shuffles and sorts. That deletes the
    sf10 finding-104 spill source (the base-side verify sort over 90%
    of the corpus' shingles) and bounds per-probe cost by |delta| x
    bucket density. The FIRST process to see a corpus pays the build
    (the same banding work the lane previously did inline, plus one
    bucketed write); later sessions ADOPT the on-disk build via its
    _graft_stamp (ensure_bucketed tier 2 — catalog re-registration,
    zero data movement) and every later call in a session probes only
    — bench median-of-3, the driver's runs, and any real ingest
    cadence amortize exactly this way."""
    docs = catalog.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    is_delta = F.col("doc_id") % 10 == 7
    # r12 (verdict ask #3): the base reads the SHARED full-corpus
    # tables (one build per corpus serves this lane, q_minhash_portable
    # and the long-match decontamination probe) with the base-
    # membership predicate applied at scan time — a doc_id filter on a
    # bucketed scan preserves both the bucketing and the bucket-sort
    # order, so the zero-base-side-Exchange/Sort property (finding 107)
    # is unchanged. Per-doc rows (shingles, bands, sizes) depend only
    # on that doc's own text, so filter(full_tables) ≡ build(base_docs)
    # row-for-row.
    sh_t, _bydoc_t, bands_t, sz_t = ensure_portable_base(spark, sf_dir)
    return _probe_delta(spark, sh_t, bands_t, sz_t, docs.filter(is_delta))


def _probe_delta(
    spark: SparkSession,
    sh_t: str,
    bands_t: str,
    sz_t: str,
    delta_docs: DataFrame,
) -> DataFrame:
    """The delta-vs-base probe core, over an arbitrary batch of delta
    documents (doc_id, text — already delta-filtered, non-null text):
    band the batch inline, candidate-join against the persisted base
    bands, exact-Jaccard-verify against the persisted base shingles,
    and report (doc_id, n_cand, n_dup, max_jaccard) for EVERY input
    doc. Split out of q_neardup_incremental (r12) because each delta
    doc's row depends only on that doc vs the BASE — rows are
    independent across delta docs — so any micro-batching of the delta
    yields byte-identical rows: q_stream_neardup runs exactly this per
    Structured Streaming batch and inherits the batch twin's oracle."""
    is_base = F.col("doc_id") % 10 != 7

    # delta side: shingled/banded inline (it arrives fresh each probe);
    # filtered BEFORE shingling so the probe never re-explodes the base.
    # The shingle set feeds THREE independent subtrees (banding, the
    # verify probe, the size counts) — cut lineage once so the delta
    # scan + explode + distinct run ONCE per probe, not three times
    # (r11 review finding; transient per-query cut, so durable=False).
    #
    # r14 (verdict ask #2) measured and NOT adopted, same-floor 5-rep
    # fresh-process A/Bs at sf0.1:
    # - fan_out ahead of the shingle stage: the 1.8 s "single-task
    #   shingle stage" in the first profile was COLD-START (class
    #   loading on the process's first real stage); warm it is 0.3 s,
    #   and fan_out makes it 0.58 s (exchange + 32-task dispatch >
    #   the work). Reverted.
    # - checkpointing the 16-min md5 SIGNATURE so the 4-way band union
    #   stops re-running the aggregate per branch: total FLAT (3.13 s
    #   original vs 3.22-3.24 s with the cut, work merely moved
    #   exec→build) — the md5 CPU lives in the PARTIAL (map-side)
    #   aggregate, which all four branches already share through
    #   ReusedExchange; the per-branch re-run is only the final
    #   min-of-mins over |delta| rows. Reverted.
    # The lane's remaining sf0.1 wall is the fixed 64-task dispatch of
    # the three bucketed-base merge-join stages (BASE_BUCKETS = 64,
    # sized for sf10 sort memory — see the constant's comment), which
    # is the correct trade at scale.
    from automated_property_data_ingestion_document_pipeline_spark.lineage import cut_lineage

    delta_sh = cut_lineage(_portable_shingles(delta_docs), durable=False)
    delta_bands = _portable_bands(delta_sh).select(
        F.col("doc_id").alias("delta_id"),
        F.col("band").alias("band_d"),
        F.col("bh").alias("bh_d"),
    )
    cand = (
        spark.table(bands_t)
        .filter(is_base)
        .hint("merge")
        .join(
            delta_bands,
            (F.col("band") == F.col("band_d")) & (F.col("bh") == F.col("bh_d")),
        )
        .select("delta_id", F.col("doc_id").alias("base_id"))
        .distinct()
    )
    sa = delta_sh.select(F.col("doc_id").alias("delta_id"), F.col("sh").alias("sh_a"))
    sb = spark.table(sh_t).filter(is_base).select(
        F.col("doc_id").alias("_db"), F.col("sh").alias("sh_b")
    )
    inter = (
        cand.hint("merge")
        .join(sa, "delta_id")
        .join(
            sb.hint("merge"),
            (F.col("base_id") == F.col("_db")) & (F.col("sh_b") == F.col("sh_a")),
        )
        .groupBy("delta_id", "base_id")
        .agg(F.count("*").alias("n_common"))
    )
    za = (
        delta_sh.groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
        .select(F.col("doc_id").alias("delta_id"), F.col("n_sh").alias("n_a"))
    )
    zb = spark.table(sz_t).filter(is_base).select(
        F.col("doc_id").alias("base_id"), F.col("n_sh").alias("n_b")
    )
    jacc = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    verified = (
        inter.join(za.hint("shuffle_hash"), "delta_id")
        .join(zb.hint("merge"), "base_id")
        .select("delta_id", jacc.alias("jacc"))
    )
    per_delta = verified.groupBy("delta_id").agg(
        F.count("*").alias("n_cand"),
        F.sum(F.when(F.col("jacc") >= _JACC_MIN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
        F.round(F.max("jacc"), 6).alias("max_jaccard"),
    )
    return (
        delta_docs.select("doc_id")
        .join(per_delta.withColumnRenamed("delta_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cand", F.lit(0).cast("bigint")).alias("n_cand"),
            F.coalesce("n_dup", F.lit(0).cast("bigint")).alias("n_dup"),
            "max_jaccard",
        )
    )


@query(
    "q_stream_neardup",
    oracle=_INCREMENTAL_ORACLE.format(ctes=_portable_ctes_sql()),
)
def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AT-INGEST AS A STREAM (r12 — the production shape
    q_neardup_incremental models, actually run through Structured
    Streaming): documents arrive on a file-source stream, the delta
    docs (doc_id % 10 == 7) of each micro-batch are banded inline and
    probed against the PERSISTED base tables via foreachBatch running
    the shared :func:`_probe_delta` core, and each batch's per-doc
    report is appended to a parquet sink. Because a delta doc's row
    depends only on that doc vs the base — never on other delta docs —
    micro-batching is EXACT, so this lane carries the batch twin's
    closed-form oracle instead of the weaker rows-only check: one
    value hash witnesses that streaming loses, duplicates, or
    re-scores not a single ingested document.

    Deployment reading: the base tables are built/adopted ONCE before
    the stream starts (ensure_portable_base — on a real cluster the
    nightly compaction job owns this); each trigger then pays only
    |batch| x bucket-density work with zero base-side Exchange/Sort,
    and the sink is idempotent per batch id under the checkpoint, the
    same recovery contract tests/test_streaming_fanout.py proves for
    the quarantine sink. The checkpoint here is per-invocation scratch
    (a verification lane must reprocess; production keeps it stable —
    that IS the exactly-once story)."""
    import shutil
    import tempfile

    from automated_property_data_ingestion_document_pipeline_spark.streaming import (
        sessions as streaming_sessions,
    )

    sh_t, _bydoc_t, bands_t, sz_t = ensure_portable_base(spark, sf_dir)
    stream = streaming_sessions.read_documents_stream(spark, sf_dir)
    delta = stream.filter(
        (F.col("doc_id") % 10 == 7) & F.col("text").isNotNull()
    ).select("doc_id", "text")

    import os as _os

    from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing
    from automated_property_data_ingestion_document_pipeline_spark.session import SCRATCH

    out_dir = _os.path.join(SCRATCH, f"stream_neardup_{bucketing.corpus_table_tag(sf_dir)}")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch-id dir: a recovery replay OVERWRITES its
        # own batch instead of double-appending (the dead_letter_split
        # contract)
        report = _probe_delta(spark, sh_t, bands_t, sz_t, batch_df)
        report.write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"batch_id={batch_id}")
        )

    # fresh scratch per invocation — a reused checkpoint would mark the
    # source already-processed and this run would see ZERO batches
    shutil.rmtree(out_dir, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="stream_neardup_ckpt_")
    try:
        q = (
            delta.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    # Spark writes NO part files for an empty DataFrame, so a corpus
    # with zero qualifying delta docs leaves out_dir without any
    # parquet to infer a schema from (r12 ADVICE). Guard the read:
    # no part files -> the same empty frame the oracle produces.
    part_files = [
        _os.path.join(dp, f)
        for dp, _dn, fns in _os.walk(out_dir)
        for f in fns
        if f.endswith(".parquet")
    ]
    schema = "doc_id bigint, n_cand bigint, n_dup bigint, max_jaccard double"
    if not part_files:
        return catalog.local_frame(spark, [], schema)
    out = spark.read.schema(schema).parquet(out_dir)
    return out.select("doc_id", "n_cand", "n_dup", "max_jaccard")
