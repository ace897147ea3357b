"""Deduplication operators (SURVEY §2.5 A1-A3, §2.9 X3-X4): exact
(hash-groupBy), last-write-wins per key, MinHash+LSH near-dup, SimHash,
n-gram Jaccard.

Scale notes: every variant is a single shuffle on the dedup key (or LSH
band bucket) with map-side partial aggregation; signatures are computed
row-local with built-in hash functions (xxhash64) so no Python executes
per row. Band-bucket join cardinality is bounded by banding parameters,
the standard LSH trade (Leskovec et al., Mining of Massive Datasets ch.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.lineage import cut_lineage

from automated_property_data_ingestion_document_pipeline_spark.functions.text import (
    shingles_of,
    tokens,
)

# Rounds the most recent connected_components() call took to converge
# (= observed component diameter + 1); surfaced in bench output.
LAST_CC_ROUNDS = 0


def last_write_wins(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """Keep the newest row per key (report_generator.py:63-68, 89 —
    regenerating a letter for the same safe_name overwrites the file).

    ``order_cols`` must totally order rows within a key (pass a unique
    tiebreaker last) or the pick is nondeterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[c.desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def last_write_wins_agg(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Hot-key-robust last-write-wins (r02 verdict #6): the same
    newest-row-per-key contract as :func:`last_write_wins`, reformulated
    as ``max_by`` over a lexicographic order struct. Unlike the ranking
    window — whose partition sort puts EVERY row of a hot key through
    one task and cannot be salted — an aggregate gets map-side partial
    combine: each map task reduces its slice of the hot key to a single
    candidate row, so the shuffle carries #map-partitions rows per key,
    never #rows. This is the form to reach for when the keep-newest
    policy meets a skewed key at scale; results are bit-identical
    (same unique-tiebreaker contract — pinned by tests/test_skew.py
    and the shared `q_dedup_lastwin` oracle)."""
    ord_struct = F.struct(*order_cols)
    row_struct = F.struct(*[F.col(c) for c in df.columns])
    picked = df.groupBy(*key_cols).agg(F.max_by(row_struct, ord_struct).alias("_row"))
    return picked.select("_row.*")


def exact_text_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by content hash: sha2-256 the text, keep the lowest id
    per hash (deterministic canonical representative). One shuffle on the
    256-bit hash — uniform key distribution, no skew at any scale."""
    hashed = df.withColumn("text_sha256", F.sha2(F.col("text"), 256))
    w = Window.partitionBy("text_sha256").orderBy(F.col("doc_id").asc())
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def paragraph_dedup(df: DataFrame, window_tokens: int = 8) -> DataFrame:
    """Corpus-wide span-level dedup (the Dolma/CCNet paragraph-removal
    op): segment each document into fixed ``window_tokens``-token spans,
    drop every span whose exact text appeared earlier in the corpus
    (first occurrence wins, scanning docs by id and spans by position),
    and reassemble the surviving spans in order. Documents whose every
    span duplicates earlier content vanish from the output — the
    boilerplate-only-doc case.

    The driver corpus has no newline/sentence structure, so the span
    unit is a fixed token window — the same algorithm as line-level
    dedup with a different segmenter (swap the ``chunks`` projection to
    ``split(text, '\\n')`` for newline corpora).

    Scale shape — two shuffles, no window function, no join:

    1. first-occurrence election is ``min(struct(id, pos))`` grouped by
       span text: an *aggregate*, so map-side partial combine collapses
       a boilerplate span repeated 10^9 times to one candidate per map
       task crossing the shuffle (a ``row_number`` window here would
       hot-key exactly like the skewed-window case in PERFORMANCE.md
       §15).
    2. the aggregate's output IS the kept-span set, so reassembly is a
       direct ``collect_list`` + ``array_sort`` regroup on the winning
       doc id — no join back against the exploded spans.

    Per-doc state (span list) is bounded by document length, not corpus
    size."""
    # Materialize the token array before the HOF: a lambda body that
    # references the raw split(text) expression re-evaluates the split
    # per span — O(len²/window) per doc (the expression-blowup class,
    # PERFORMANCE.md §39).
    toked = df.select(
        F.col("doc_id"), F.split(F.col("text"), " ").alias("_toks")
    )
    toks = F.col("_toks")
    n_spans = F.ceil(F.size(toks) / F.lit(float(window_tokens))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - F.lit(1)),
        lambda g: F.array_join(F.slice(toks, g * window_tokens + 1, window_tokens), " "),
    )
    exploded = toked.select(F.col("doc_id"), F.posexplode(spans).alias("pos", "span"))
    first = exploded.groupBy("span").agg(
        F.min(F.struct("doc_id", "pos")).alias("_first")
    )
    return (
        first.select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.pos").alias("pos"),
            "span",
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "span"))),
                    lambda x: x["span"],
                ),
                " ",
            ).alias("dedup_text"),
            F.count("*").alias("n_kept"),
        )
    )


def minhash_signature_df(
    df: DataFrame,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures as columns ``_m0.._m{n-1}``: per seed i, min
    over shingles of xxhash64(shingle, i).

    Explode → ``num_hashes`` codegen'd MIN aggregates → one shuffle on
    the doc id. (A higher-order-function fold with a signature-wide
    accumulator is interpreted per element and benchmarked ~5× slower —
    same lesson as simhash64_df.)"""
    toked = df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
    hashed = toked.select(
        F.col("doc_id"), F.explode(shingles_of(F.col("_toks"), shingle_k)).alias("_sh")
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("_sh", F.lit(i))).alias(f"_m{i}") for i in range(num_hashes)]
    )


def minhash_banded_df(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The banded LSH relation ``(_id, band_idx, band_hash)`` — the
    signature split into ``bands`` bands of r rows, each band hashed.
    Split out of :func:`minhash_candidate_pairs` (r12) so the relation
    can be PERSISTED per corpus (bucketed on the band key) and the
    candidate self-join read it with zero Exchange instead of
    re-signing the corpus every run."""
    r = num_hashes // bands
    sig = minhash_signature_df(df, num_hashes=num_hashes, shingle_k=shingle_k).withColumnRenamed(
        "doc_id", "_id"
    )
    return sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"_m{b * r + j}") for j in range(r)], F.lit(b))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def candidate_pairs_from_bands(banded: DataFrame) -> DataFrame:
    """Self-join a banded relation on (band_idx, band_hash) → candidate
    pairs ``(id_a, id_b)`` with id_a < id_b, deduplicated.

    The self-join shuffles on band hash — bucket sizes follow the LSH
    s-curve, so hot buckets mean genuinely-similar clusters, which is the
    work we want. AQE skew-join handles pathological clusters. When
    ``banded`` is a table bucketed on (band_idx, band_hash), the join
    compiles with no Exchange on either side."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH banding end-to-end: :func:`minhash_banded_df` →
    :func:`candidate_pairs_from_bands` (kept as the one-shot form for
    ad-hoc corpora; corpus-resident lanes persist the banded relation
    and call the two halves separately)."""
    return candidate_pairs_from_bands(
        minhash_banded_df(df, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k)
    )


def simhash64_df(
    df: DataFrame,
    shingle_k: int = 2,
    tokens_col: "str | None" = None,
) -> DataFrame:
    """63-bit SimHash (sign bit skipped): majority vote per bit over
    per-shingle xxhash64 values. Near-dups differ in few bits (Charikar
    2002; Manku et al. WWW'07 dedup-at-Google design). Returns
    (doc_id, simhash).

    Formulation matters: explode shingles → codegen'd SUM aggregates →
    one shuffle on the doc id → assemble the fingerprint from the
    counts. Higher-order-function folds over a 63-wide accumulator are
    interpreted per element (no whole-stage codegen for lambda bodies)
    and ran ~40× slower at sf0.1; plain aggregates stay in Tungsten.

    The 63 bit-counts are PACKED 3-per-aggregate into 21-bit fields of
    21 longs (+1 count) — measured ~10% faster than 63 separate SUMs
    and, more importantly at scale, 3× narrower aggregation buffers
    (22 vs 64 longs per group crossing the map-side-combine shuffle).
    Field width bounds shingle count at 2^21 per doc — far above any
    real document."""
    # tokens_col: read a PRE-tokenized array column instead of splitting
    # text (r13 token-adoption A/B, SCALE_STUDY_sf1.json) —
    # every downstream expression is shared, so both paths hash
    # identically.
    if tokens_col is None:
        toked = df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
    else:
        toked = df.select(F.col("doc_id"), F.col(tokens_col).alias("_toks"))
    hashed = toked.select(
        F.col("doc_id"), F.explode(shingles_of(F.col("_toks"), shingle_k)).alias("_sh")
    ).select("doc_id", F.xxhash64("_sh").alias("_h"))

    # r13 (guide §7.2 "very large plans — planning time itself can become
    # the bottleneck"): the 21 packed aggregates + 63-term fingerprint
    # fold are built as SERVER-PARSED SQL text instead of ~500 chained
    # Column calls, and the bit-OR fold is a BALANCED tree instead of a
    # 63-deep left chain. Per-build plan construction dropped 1.5-2.9 s
    # -> 0.31 s at sf0.1 (py4j round-trips + Catalyst depth), execution
    # and every output bit unchanged (measured identical on the full
    # corpus; bits are disjoint so OR order is immaterial).
    aggs = [F.expr("count(*)").alias("_n")] + [
        F.expr(
            f"sum(cast(getbit(_h, {3 * g}) as bigint)"
            f" + shiftleft(cast(getbit(_h, {3 * g + 1}) as bigint), 21)"
            f" + shiftleft(cast(getbit(_h, {3 * g + 2}) as bigint), 42))"
        ).alias(f"_p{g}")
        for g in range(21)
    ]
    counts = hashed.groupBy("doc_id").agg(*aggs)
    terms = []
    for b in range(63):
        g, j = divmod(b, 3)
        terms.append(
            f"(CASE WHEN ((shiftright(_p{g}, {21 * j}) & {(1 << 21) - 1}) * 2"
            f" >= _n) THEN {1 << b}L ELSE 0L END)"
        )
    while len(terms) > 1:
        terms = [f"({a} | {b})" for a, b in zip(terms[::2], terms[1::2])] + (
            [terms[-1]] if len(terms) % 2 else []
        )
    return counts.select(F.col("doc_id"), F.expr(terms[0]).alias("simhash"))


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Dedup CLUSTERS from near-dup pairs: connected components by
    min-label propagation, returning ``(id, cluster_id)`` where
    cluster_id is the smallest doc id in the component (the canonical
    representative — the member a keep-one-per-cluster policy keeps).

    Iteration i joins edges to current labels and takes the per-node min
    (hash-partitioned on node id, one shuffle per round);
    :func:`cut_lineage` cuts the lineage so plans stay flat
    (localCheckpoint locally; reliable checkpoint when the session has a
    checkpoint dir). The
    convergence probe is a scalar ``count()`` action (no data reaches
    the driver). Rounds needed = component diameter — near-dup clusters
    are dense (near-cliques), so 2-3 rounds in practice; pathological
    chains are capped by ``max_iters``. This is the standard
    hash-min CC (cf. Kiveris et al., "Connected Components in
    MapReduce"), the piece that turns pair-wise near-dup detection into
    actionable dedup groups at corpus scale.

    Rounds actually run are recorded in module-level
    ``LAST_CC_ROUNDS`` (bench.py reports it next to wall-time so a
    diameter blow-up is visible as plan shape, not just latency)."""
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = 0
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .unionByName(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .distinct()
    )
    # materialized by round 0, reused after (reliable checkpoint when
    # the session has a checkpoint dir — r10 verdict ask #6)
    edges = cut_lineage(edges, eager=False)
    labels = edges.select(F.col("s").alias("id")).distinct().withColumn("cc", F.col("id"))
    for _ in range(max_iters):
        msgs = edges.join(labels, edges["s"] == labels["id"]).select(
            F.col("d").alias("id"), F.col("cc"), F.lit(None).cast("long").alias("_old")
        )
        # each node's previous label rides along as _old (exactly one
        # non-null per id), so convergence needs no extra join
        # lazy checkpoint: the convergence count below is the ONE job
        # per round — it materializes the checkpoint as a side effect,
        # and later rounds read the materialized partitions.
        new_labels = (
            labels.select("id", "cc", F.col("cc").alias("_old"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("cc").alias("cc"), F.max("_old").alias("_old"))
        )
        new_labels = cut_lineage(new_labels, eager=False)
        # full aggregate (not limit(1)) so every partition of the lazy
        # checkpoint materializes in this one job
        # coalesce: SUM over zero rows is NULL — an empty edge set must
        # read as converged, not loop max_iters times (r02 advice)
        changed = new_labels.agg(
            F.coalesce(F.sum((F.col("cc") != F.col("_old")).cast("int")), F.lit(0))
        ).first()[0]
        LAST_CC_ROUNDS += 1
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    return labels.select("id", F.col("cc").alias("cluster_id"))


def shingle_sets_df(df: DataFrame, shingle_k: int = 3) -> DataFrame:
    """Per-doc distinct shingle SETS ``(_id, _set)`` — the relation the
    exact-Jaccard verify joins against. Split out of
    :func:`ngram_jaccard_pairs` (r12) so corpus-resident lanes can
    persist it bucketed on ``_id`` and verify candidate pairs with
    zero corpus-side Exchange."""
    return df.select(
        F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_toks")
    ).select(
        "_id", F.array_distinct(shingles_of(F.col("_toks"), shingle_k)).alias("_set")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    shingle_k: int = 3,
    threshold: float = 0.7,
    sets_df: "DataFrame | None" = None,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity.

    ``candidates`` has (id_a, id_b). Joins shingle sets in (twice) and
    computes |A∩B| / |A∪B| via array intersection — exact, so this is
    the verification stage after LSH recall. BOTH join inputs grow
    with the corpus (the set relation carries a fat array column per
    doc), so the joins are PINNED sort-merge: Spark's post-aggregate
    size estimates are unreliable, and at sf10 a mis-estimate
    broadcast a corpus-sized relation and OOM-guarded the job
    (PERFORMANCE.md finding 93). ``sets_df`` (r12) lets the caller
    supply a PERSISTED ``(_id, _set)`` relation (bucketed on _id) so
    the corpus side never re-tokenizes or shuffles. The joins stay
    MERGE-pinned even then: a hash build of the _set ARRAY rows was
    measured OOMing the sf10 heap (finding 109 — a bucket of fat array
    rows hashes to several times its file size, and 32 concurrent
    builds blew 8 GB), while the bucket-sorted scan gives the merge
    join its table-side order for free; only the slim candidate stream
    sorts. Hash-vs-merge is decided by ROW WIDTH: the portable lane's
    (doc_id, 32-char sh) rows hash-build safely, these don't."""
    if sets_df is None:
        sets_df = shingle_sets_df(df, shingle_k=shingle_k)
    a = sets_df.hint("merge").alias("a")
    b = sets_df.hint("merge").alias("b")
    joined = (
        candidates.join(a, candidates.id_a == F.col("a._id"))
        .join(b, candidates.id_b == F.col("b._id"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("a._set", "b._set"))
                / F.size(F.array_union("a._set", "b._set"))
            ).alias("jaccard"),
        )
    )
    return joined.filter(F.col("jaccard") >= threshold)


def deletion_variants(col: Column) -> Column:
    """FastSS 1-deletion neighborhood of a string, row-locally in pure
    JVM HOF arithmetic (no Python): element 0 is the string itself,
    element i (1-based) is the string with character i deleted."""
    n = F.length(col)
    return F.transform(
        F.sequence(F.lit(0), n),
        lambda i: F.when(i == F.lit(0), col).otherwise(
            F.concat(col.substr(F.lit(1), i - 1), col.substr(i + 1, n))
        ),
    )


def fuzzy_pairs_fastss(
    df: DataFrame,
    text_col: str = "c_name",
    id_col: str = "c_custkey",
    max_dist: int = 1,
) -> DataFrame:
    """Typo-tolerant entity resolution (Bocek et al., FastSS): pairs of
    rows whose ``text_col`` is within Levenshtein distance
    ``max_dist`` (=1), WITHOUT the quadratic all-pairs scan.

    The deletion-neighborhood theorem makes the bucketing EXACT, not
    approximate: lev(a, b) ≤ 1 iff the 1-deletion neighborhoods of a
    and b intersect (a substitution is a deletion on both sides, an
    insert/delete is a deletion on one side). So: explode each string
    to its n+1 variants (row-local, JVM-only), self-join on the variant
    (shuffle keyed by variant — bucketed like the MinHash band join,
    never all-pairs), dedup candidate pairs, verify with exact
    ``levenshtein`` — the verify can only DISCARD false candidates, the
    theorem guarantees zero false negatives. ~(n+1)× explode fan-out is
    the classic FastSS space-for-subquadratic trade; at 100 TB the
    variant join keys are hashable shuffle keys like any other.

    Motivated by the reference's own data-quality bug: the
    'Bristill City, VA' typo row (App.js:123) is exactly the class of
    error this operator surfaces."""
    if max_dist not in (1, 2):
        raise ValueError("fastss supports max_dist 1 or 2")
    # D_2 = deletions of deletions, flattened (row-local; ~n^2/2 variants
    # per string — the space cost of exact dist-2 bucketing)
    # two-step projection: aliasing AND exploding an expression over the
    # same source column in one select trips Spark's lateral-column-alias
    # analysis when the input is already named like the alias (internal
    # LateralColumnAliasReference error) — materialize the rename first
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_fss_s"))
    if max_dist == 2:
        variants = F.array_distinct(
            F.flatten(
                F.transform(deletion_variants(F.col("_fss_s")), lambda s: deletion_variants(s))
            )
        )
    else:
        variants = deletion_variants(F.col("_fss_s"))
    v = base.select(
        "_id",
        F.col("_fss_s").alias("_name"),
        F.explode(variants).alias("_variant"),
    ).distinct()  # a deletion can coincide for repeated chars ('ll' -> one variant)
    # finding 94: the variant relation is the corpus exploded ~n_chars x
    # — post-Generate estimates do not carry the fan-out, so Spark
    # broadcast one side of this self-join at sf10; pin sort-merge
    a, b = v.alias("a"), v.hint("merge").alias("b")
    cand = (
        a.join(b, (F.col("a._variant") == F.col("b._variant")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._name").alias("name_a"),
            F.col("b._name").alias("name_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b")
    ).filter(F.col("dist") <= max_dist)


def fuzzy_pairs_fastss_grouped(
    df: DataFrame,
    text_col: str = "c_name",
    id_col: str = "c_custkey",
    max_dist: int = 1,
) -> DataFrame:
    """Skew-hardened FastSS: collapse exact-duplicate strings BEFORE the
    variant join.

    The hazard: k rows sharing one string share every deletion variant,
    so the bucket join emits k² candidate pairs per duplicated string —
    and real corpora duplicate pathologically ('', 'N/A', boilerplate).
    Collapsing to distinct strings first (representative = min id,
    multiplicity carried) makes the join quadratic only in DISTINCT
    spellings per bucket; exact duplicates never even enter it. Returns
    STRING-level pairs: (name_a, name_b, dist, n_a, n_b, rep_a, rep_b)
    — the row-level pair count is n_a*n_b by construction, recoverable
    without materializing it."""
    g = df.groupBy(F.col(text_col).alias("_name")).agg(
        F.min(id_col).alias("_rep"), F.count("*").alias("_n")
    )
    pairs = fuzzy_pairs_fastss(g, "_name", "_rep", max_dist)
    # multiplicities re-join by NAME (distinct join-column names, no
    # self-join attribute ambiguity)
    na = df.groupBy(F.col(text_col).alias("name_a")).agg(F.count("*").alias("n_a"))
    nb = df.groupBy(F.col(text_col).alias("name_b")).agg(F.count("*").alias("n_b"))
    return (
        pairs.withColumnRenamed("id_a", "rep_a")
        .withColumnRenamed("id_b", "rep_b")
        .join(na, "name_a")
        .join(nb, "name_b")
        .select("name_a", "name_b", "dist", "rep_a", "rep_b", "n_a", "n_b")
    )
