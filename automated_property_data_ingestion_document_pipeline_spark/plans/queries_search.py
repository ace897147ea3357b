"""Full-text retrieval primitives: inverted index build + BM25 ranking
+ bounded k-hop graph expansion.

The index build is the batch side of every search/RAG pipeline: one
explode → one grouped aggregate per term, postings held as a bounded
sorted prefix (real systems shard long postings; the prefix proves the
ordering/dedup contract without shipping megabyte lists through the
driver compare). BM25 extends q_tfidf's engine-portable scoring: the
only non-algebraic term, idf, uses the integer floor-log2 trick
(length(bin(n)) - 1 — no libm), and the k1/b saturation arithmetic is a
fixed IEEE expression tree evaluated identically on both engines.

k-hop expansion (friends-of-friends over the deterministic order graph
from queries_graph) is the bounded-iteration BFS shape: each hop is one
equi-join + min-aggregate. Spark unrolls the 3 hops (frontier shrinks
to nothing rapidly on a banded graph); the oracle runs the equivalent
recursive CTE. At 100 TB each hop is a shuffle on the node key and the
frontier stays a fraction of the edge set — the same plan GraphFrames'
BFS lowers to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark import catalog
from automated_property_data_ingestion_document_pipeline_spark.plans.queries_graph import (
    _CANON_SQL,
    _edges,
)
from automated_property_data_ingestion_document_pipeline_spark.plans.queries_text import (
    _TOKS_SQL,
    ensure_token_base,
)
from automated_property_data_ingestion_document_pipeline_spark.plans.registry import query

_POSTINGS_CAP = 8  # sorted-prefix length emitted per term


@query(
    "q_inverted_index",
    oracle=f"""
    WITH t AS (
      SELECT DISTINCT doc_id, unnest({_TOKS_SQL.format(col='text')}) AS tok
      FROM documents
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, {_POSTINGS_CAP}),
                           ',') AS postings_head
    FROM t
    GROUP BY tok
    HAVING COUNT(*) >= 3
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → postings-list index over documents: distinct (doc, term)
    pairs (postings never repeat a doc), document frequency, and the
    sorted head of the postings list as a comma string (arrays don't
    canon identically across engine→pandas bridges; the joined prefix
    pins ordering and content). Two shuffles total — explode+distinct,
    then the term aggregate; df >= 3 bounds the long tail of hapax
    terms out of the output. r13: the token arrays come from the
    persisted per-corpus table (queries_text.ensure_token_base) —
    5.0 -> 2.25 s steady at sf1.0, and 11.7 MB of tokenize shuffle
    drops to 0.1."""
    tok_t = ensure_token_base(spark, sf_dir)
    t = spark.table(tok_t).select("doc_id", F.explode("tk").alias("tok")).distinct()
    return (
        t.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.min("doc_id").alias("first_doc"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTINGS_CAP),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 3)
    )


@query(
    "q_bm25",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKS_SQL.format(col='text')}) AS tok
      FROM documents),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM t GROUP BY doc_id, tok),
    stats AS (
      SELECT doc_id, tok, tf,
             CAST(COUNT(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
             CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_len
      FROM tf),
    corpus AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS total_toks
      FROM t)
    SELECT s.doc_id, s.tok, s.tf, s.df,
           ROUND(CAST((length(bin(c.n_docs)) - 1) - (length(bin(s.df)) - 1) AS DOUBLE)
                 * (s.tf * 2.2)
                 / (s.tf + 1.2 * (0.25 + (0.75 * s.doc_len)
                                  / (CAST(c.total_toks AS DOUBLE) / c.n_docs))),
                 6) AS bm25
    FROM stats s, corpus c
    WHERE s.tf >= 2
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) per repeated term. Unlike the oracle's
    window formulation, doc_len is ROW-LOCAL (size of the token array
    before the explode, ridden through the tf group keys — functionally
    dependent on doc_id, so the key cardinality is unchanged) and the
    corpus stats aggregate the un-exploded documents table; that drops
    the doc_id window and the exploded-table corpus agg — 6 exchanges
    → 4 (tf group, df window, single-row agg + its broadcast). idf stays
    pure-integer (floor-log2); the saturation denominator is the same
    IEEE tree on both engines — but measured 1 ULP apart on the edge
    corpus (engine-side expression compilation, likely FMA
    contraction, reassociates the saturation chain), so this is the
    §41 carve-out case that genuinely KEEPS the defensive ROUND: the
    operands are identical, the evaluation isn't. r13: token arrays
    from the persisted per-corpus table (ensure_token_base) — 4.9 ->
    0.83 s steady at sf1.0 (SCALE_STUDY_sf1.json
    ``token_adoption_ab_sf1``)."""
    tok_t = ensure_token_base(spark, sf_dir)
    docs = spark.table(tok_t).withColumn(
        "doc_len", F.size("tk").cast("bigint")
    ).filter(F.col("doc_len") > 0)
    t = docs.select("doc_id", "doc_len", F.explode("tk").alias("tok"))
    tf = t.groupBy("doc_id", "doc_len", "tok").agg(F.count("*").alias("tf"))
    stats = tf.withColumn("df", F.count("*").over(Window.partitionBy("tok")))
    corpus = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_len").alias("total_toks"),
    )
    log2 = lambda c: F.length(F.bin(c)) - F.lit(1)  # noqa: E731
    idf = (log2(F.col("n_docs")) - log2(F.col("df"))).cast("double")
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    sat = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + (F.lit(0.75) * F.col("doc_len")) / avgdl
    )
    return (
        stats.join(F.broadcast(corpus))
        .filter(F.col("tf") >= 2)
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(idf * (F.col("tf") * 2.2) / sat, 6).alias("bm25"),
        )
    )


_KHOP_MAX = 3
_SEED_SQL = "SELECT DISTINCT u AS node FROM ce WHERE u % 1000 = 0"


@query(
    "q_khop",
    oracle=f"""
    WITH RECURSIVE ce AS ({_CANON_SQL}),
    und AS (
        SELECT u AS src, v AS dst FROM ce
        UNION ALL
        SELECT v AS src, u AS dst FROM ce
    ),
    seeds AS ({_SEED_SQL}),
    walk AS (
        SELECT node, 0 AS hops FROM seeds
        UNION ALL
        SELECT und.dst AS node, walk.hops + 1 AS hops
        FROM walk JOIN und ON und.src = walk.node
        WHERE walk.hops < {_KHOP_MAX}
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS dist
    FROM walk
    GROUP BY node
    """,
)
def q_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤ 3) from the seed set over the undirected
    order graph — friends-of-friends expansion. Spark unrolls the
    bounded BFS: per hop, join the frontier to the adjacency list and
    keep the new minimum; each hop is one equi-join shuffled on the
    node key. The recursive-CTE oracle walks every path and MIN-folds —
    agreement proves the unrolled frontier reaches the identical
    closure."""
    e = _edges(spark, sf_dir)
    ce = (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"),
            F.greatest("a", "b").alias("v"),
        )
        .distinct()
    )
    und = ce.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        ce.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    # The adjacency feeds one join PER HOP: materialize it once
    # (MEMORY_AND_DISK spills gracefully when the edge list outgrows
    # executor memory) instead of re-deriving distinct(orders) 3×.
    und = und.persist()
    seeds = ce.filter(F.col("u") % 1000 == 0).select(F.col("u").alias("node")).distinct()

    reached = seeds.select("node", F.lit(0).alias("dist"))
    frontier = reached
    for hop in range(1, _KHOP_MAX + 1):
        nxt = (
            frontier.join(und, frontier["node"] == und["src"])
            .select(F.col("dst").alias("node"), F.lit(hop).alias("dist"))
            .distinct()
        )
        reached = reached.unionAll(nxt)
        frontier = nxt
    return reached.groupBy("node").agg(F.min("dist").cast("bigint").alias("dist"))


_QUERY_TERMS = ("data", "scan")  # the conjunctive search query


@query(
    "q_boolean_search",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKS_SQL.format(col='text')}) AS tok
      FROM documents),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM t WHERE tok IN ('{_QUERY_TERMS[0]}', '{_QUERY_TERMS[1]}')
      GROUP BY doc_id, tok),
    hits AS (
      SELECT doc_id,
             CAST(SUM(tf) AS BIGINT) AS total_tf,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM tf GROUP BY doc_id
      HAVING COUNT(*) = 2
    )
    SELECT h.doc_id, h.total_tf, d.n_chars
    FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    ORDER BY h.total_tf DESC, h.doc_id
    LIMIT 20
    """,
)
def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) retrieval over the inverted-index shape: docs
    containing EVERY query term, ranked by combined term frequency with
    a deterministic id tiebreak, top-20. The term filter pushes into
    the explode (only query-term postings survive the first aggregate —
    at 100 TB this is the posting-list intersection, not a corpus
    scan), the AND is ``COUNT(term) == |query|`` on the grouped rows,
    and the join back to documents fetches display fields for the page
    of results only. r13: postings explode from the persisted token
    table (queries_text.ensure_token_base — the measured-family
    adoption, SCALE_STUDY r13_lanes)."""
    d = catalog.load(spark, sf_dir, "documents")
    tok_t = ensure_token_base(spark, sf_dir)
    t = (
        spark.table(tok_t)
        .select("doc_id", F.explode("tk").alias("tok"))
        .filter(F.col("tok").isin(*_QUERY_TERMS))
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    hits = (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("total_tf"), F.count("*").alias("n_terms"))
        .filter(F.col("n_terms") == len(_QUERY_TERMS))
    )
    # finding 94: `hits` is a post-explode posting aggregate — df(terms)
    # grows with the corpus and Generate hides the fan-out from the
    # estimator; never broadcast
    return (
        hits.hint("shuffle_hash").join(d.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "total_tf", "n_chars")
        .orderBy(F.desc("total_tf"), "doc_id")
        .limit(20)
    )


@query(
    "q_phrase_search",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, tok, pos
      FROM (
        SELECT doc_id,
               unnest({_TOKS_SQL.format(col='text')}) AS tok,
               unnest(range(1, len({_TOKS_SQL.format(col='text')}) + 1)) AS pos
        FROM documents)
      WHERE tok IN ('{_QUERY_TERMS[0]}', '{_QUERY_TERMS[1]}')
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_phrase_hits,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM t a JOIN t b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = '{_QUERY_TERMS[0]}' AND b.tok = '{_QUERY_TERMS[1]}'
    GROUP BY a.doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval ("data scan" as ADJACENT tokens) over a
    positional index: posexplode keeps token positions, the term filter
    prunes the postings before any shuffle, and adjacency is an
    equi-join on (doc, pos+1) — the positional-index intersection every
    phrase query compiles to. Documents that match both terms but never
    adjacently (q_boolean_search hits) drop out here. r13: positions
    come from the persisted token table (queries_text.ensure_token_base
    — the measured-family adoption, SCALE_STUDY r13_lanes)."""
    toked = spark.table(ensure_token_base(spark, sf_dir))
    t = (
        toked.select("doc_id", F.posexplode("tk").alias("pos0", "tok"))
        .filter(F.col("tok").isin(*_QUERY_TERMS))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    a = t.filter(F.col("tok") == _QUERY_TERMS[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = t.filter(F.col("tok") == _QUERY_TERMS[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    # finding 94: both posting sides are post-explode (df-scale) — pin
    # the positional intersection to a partitioned join
    hits = a.join(
        b.hint("shuffle_hash"),
        (F.col("doc_b") == F.col("doc_id")) & (F.col("pos_b") == F.col("pos_a") + 1),
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_phrase_hits"),
        F.min("pos_a").cast("bigint").alias("first_pos"),
    )
