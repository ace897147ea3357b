"""Operator-semantics unit tests on hand-built fixtures: as-of join vs a
naive reference implementation, last-write-wins, exact/minhash dedup,
sessionization gap behavior, simhash near-dup property."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.operators import (
    dedup,
    joins,
    sessionize,
    similarity,
)


def ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 12, minute, second)


def test_asof_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(1, ts(10), "p1"), (1, ts(30), "p2"), (2, ts(5), "p3"), (3, ts(1), "p4")],
        "user_id bigint, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(9), 100), (1, ts(10), 101), (1, ts(29, 59), 102), (2, ts(6), 103)],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    out = joins.asof_join(left, right, key="user_id", ts="ts", payload_cols=["event_id"])
    got = {r["tag"]: r["asof_event_id"] for r in out.collect()}
    # p1@12:10 → event at exactly 12:10 (inclusive tie); p2 → 12:29:59;
    # p3@12:05 has no prior → null; p4 user 3 has no right rows → null
    assert got == {"p1": 101, "p2": 102, "p3": None, "p4": None}


def test_asof_join_forward_matches_naive(spark):
    left = spark.createDataFrame(
        [(1, ts(10), "p1"), (1, ts(30), "p2"), (2, ts(5), "p3"), (3, ts(1), "p4")],
        "user_id bigint, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(9), 100), (1, ts(10), 101), (1, ts(29, 59), 102), (2, ts(6), 103)],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    out = joins.asof_join(
        left, right, key="user_id", ts="ts", payload_cols=["event_id"],
        direction="forward",
    )
    got = {r["tag"]: r["asof_event_id"] for r in out.collect()}
    # p1@12:10 → event at exactly 12:10 (inclusive tie); p2@12:30 has no
    # later right → null; p3@12:05 → 12:06; p4 user 3 → null
    assert got == {"p1": 101, "p2": None, "p3": 103, "p4": None}


def test_asof_join_null_ts_matches_nothing_and_pollutes_nothing(spark):
    left = spark.createDataFrame(
        [(1, ts(10), "p1"), (1, None, "pnull")],
        "user_id bigint, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, None, 999), (1, ts(9), 100)],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    for direction, expect in (
        ("backward", {"p1": 100, "pnull": None}),
        ("forward", {"p1": None, "pnull": None}),
    ):
        out = joins.asof_join(
            left, right, key="user_id", ts="ts", payload_cols=["event_id"],
            direction=direction,
        )
        got = {r["tag"]: r["asof_event_id"] for r in out.collect()}
        # the NULL-ts right row (999) must never surface; NULL-ts left
        # rows match nothing
        assert got == expect, direction


def test_last_write_wins_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("k", ts(1), 1), ("k", ts(2), 2), ("k", ts(2), 3)],
        "key string, ts timestamp, payload int",
    )
    out = dedup.last_write_wins(df, ["key"], [F.col("ts"), F.col("payload")])
    assert out.collect()[0]["payload"] == 3  # max ts, then max payload


def test_exact_text_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(5, "same text"), (2, "same text"), (9, "other")], "doc_id bigint, text string"
    )
    out = {r["doc_id"] for r in dedup.exact_text_dedup(df).collect()}
    assert out == {2, 9}


def test_minhash_candidates_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (0, base),
        (1, base + " extra"),  # near-dup of 0
        (2, "completely different words about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    cands = dedup.minhash_candidate_pairs(df, num_hashes=16, bands=8, shingle_k=2)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 1) in pairs
    verified = dedup.ngram_jaccard_pairs(df, cands, shingle_k=2, threshold=0.5)
    vpairs = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert vpairs == {(0, 1)}


def test_simhash_near_for_near_dups(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(0, a), (1, a + " lambda"), (2, "one two three four five six seven")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash64_df(df, shingle_k=2).collect()}
    def hamming(x, y):
        return bin(x ^ y).count("1")
    assert hamming(out[0], out[1]) < hamming(out[0], out[2])
    assert all(v >= 0 for v in out.values())  # sign bit never set


def test_sessionize_gap_boundary(spark):
    df = spark.createDataFrame(
        [(1, ts(0), 1), (1, ts(29), 2), (1, ts(59, 1), 3), (2, ts(0), 4)],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    out = sessionize.session_summary(df, gap_minutes=30)
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    # events at :00 and :29 share a session (gap 29m < 30m); :59:01 is
    # 30m01s after :29 → new session; user 2 independent
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_sessionize_exact_gap_splits_like_streaming(spark):
    """Events EXACTLY gap apart split (ADVICE round 1): streaming
    ``session_window`` closes at last_ts+gap exclusive, so the batch twin
    must split at >= gap, not > gap."""
    df = spark.createDataFrame(
        [(1, ts(0), 1), (1, ts(30), 2)],  # exactly 30 min apart
        "user_id bigint, ts timestamp, event_id bigint",
    )
    out = sessionize.session_summary(df, gap_minutes=30)
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert got == {(1, 1): 1, (1, 2): 1}


def test_connected_components_clusters(spark):
    """Hash-min CC: chain {1-2, 2-3}, pair {7-9}, chain {4-5-6} via
    transitive edges — every member labeled with its component min."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 5), (5, 6), (4, 6)], "id_a bigint, id_b bigint"
    )
    out = {r["id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 4: 4, 5: 4, 6: 4}


def test_connected_components_long_chain_converges(spark):
    # path graph 0-1-...-8: worst case for min propagation (diameter 8)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    out = {r["id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert out == {i: 0 for i in range(9)}


def test_multi_table_lsh_recall_gate(spark, sf_dir):
    """Round-1 verdict item 4: multi-table LSH must reach overall
    recall@5 ≥ 0.6 on the (near-orthogonal, hardest-case) corpus, and
    probe strictly less of the corpus than brute force."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q_lsh_recall"](spark, sf_dir).collect()
    overall = [r for r in rows if r["query_id"] == -1][0]
    assert overall["recall_at_5"] >= 0.6
    assert 0.0 < overall["probe_fraction"] < 1.0


def test_ivf_recall_gate(spark, sf_dir):
    """r02 verdict item 5: IVF ANN must reach overall recall@5 ≥ 0.8 at
    a measured probe fraction ≤ 0.5 (config 32 cells / nprobe 14,
    chosen by the r03 sweep — PERFORMANCE.md §13)."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q_ivf_recall"](spark, sf_dir).collect()
    overall = [r for r in rows if r["query_id"] == -1][0]
    assert overall["recall_at_5"] >= 0.8
    assert 0.0 < overall["probe_fraction"] <= 0.5


def test_pq_recall_gate(spark, sf_dir):
    """PQ ANN (32 subspaces x 16 centroids, rerank 4k) must reach
    overall recall@5 >= 0.8 while exact-rescoring <= 5% of the corpus
    (measured 0.97 at 4% on sf0.01, PERFORMANCE.md §14)."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q_pq_recall"](spark, sf_dir).collect()
    overall = [r for r in rows if r["query_id"] == -1][0]
    assert overall["recall_at_5"] >= 0.8
    assert 0.0 < overall["rerank_fraction"] <= 0.05


def test_ivfpq_recall_gate(spark, sf_dir):
    """The composed IVF-PQ path must stay within 0.1 of the coarse
    stage's own recall ceiling (IVF gate is >= 0.8): gate >= 0.75."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q_ivfpq_recall"](spark, sf_dir).collect()
    overall = [r for r in rows if r["query_id"] == -1][0]
    assert overall["recall_at_5"] >= 0.75


def test_lsh_topk_multi_subset_of_exact_scores(spark):
    """Every LSH hit must carry the SAME cosine the exact path computes
    (verify step is exact), and hits are a subset of corpus ids."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.brute_force_topk(df, q, k=39).collect()
    }
    approx = similarity.lsh_topk_multi(df, q, k=5).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]


def test_brute_force_topk_excludes_self_and_ranks(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: -r["cos_sim"])
    assert [r["neighbor_id"] for r in rows] == [1, 3]
    assert all(r["query_id"] == 0 for r in rows)


def test_connected_components_empty_edges_returns_fast(spark):
    """r02 advice: SUM over zero rows is NULL — an empty pair set must
    converge in one round, not run all max_iters join/checkpoint jobs."""
    import time

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    t0 = time.monotonic()
    assert dedup.connected_components(pairs, max_iters=20).collect() == []
    assert time.monotonic() - t0 < 30  # 20 empty rounds would blow this


def test_scale_path_clusters_match_exact_on_bounded_subset(spark, sf_dir):
    """r02 verdict #4: the full MinHash→verify→CC composition
    (q_neardup_clusters) must agree with an exact all-pairs closure of
    the SAME metric (3-token-shingle Jaccard ≥ 0.5, q_minhash_neardup's
    verify) — candidate recall is the only permissible divergence, and
    on this corpus the banding (16 hashes / 8 bands ⇒ r=2) recalls
    every J≥0.5 pair (measured 28/28 at sf0.001)."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.functions.text import (
        shingles_of,
        tokens,
    )

    # exact all-pairs shingle-3 Jaccard ≥ 0.5 on the bounded subset
    d60 = catalog.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sets_df = d60.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(shingles_of(tokens(F.col("text")), 3)).alias("_set"),
    )
    a = sets_df.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"))
    b = sets_df.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb"))
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    exact_clusters = {
        (r["id"], r["cluster_id"])
        for r in dedup.connected_components(exact).collect()
    }

    # scale path, with the PAIR universe restricted to the same bounded
    # subset before CC (the registry key runs unbounded, where docs also
    # connect through ids ≥ 60 — a different, larger closure by design)
    d = catalog.load(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(d, num_hashes=16, bands=8, shingle_k=3)
    verified = dedup.ngram_jaccard_pairs(d, cand, shingle_k=3, threshold=0.5).filter(
        (F.col("id_a") < 60) & (F.col("id_b") < 60)
    )
    scale_pairs = {(r["id_a"], r["id_b"]) for r in verified.select("id_a", "id_b").collect()}
    # banding recall: every J≥0.5 pair survives 16 hashes / 8 bands here
    assert scale_pairs == exact_pairs
    scale_clusters = {
        (r["id"], r["cluster_id"])
        for r in dedup.connected_components(verified).collect()
    }
    assert scale_clusters == exact_clusters
    assert dedup.LAST_CC_ROUNDS >= 1

    # the unbounded registry key still runs end-to-end and labels every
    # doc with its component min
    unbounded = QUERIES["q_neardup_clusters"](spark, sf_dir)
    rows = unbounded.collect()
    assert all(r["cluster_id"] <= r["doc_id"] for r in rows)


def test_paragraph_dedup_semantics(spark):
    """First occurrence (by doc_id, then position) of each span
    survives; later exact repeats are removed; a doc made entirely of
    previously-seen spans disappears; surviving spans keep their
    original order."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d"),       # spans (w=2): "a b", "c d"
            (1, "c d x y a b"),   # "c d" dup, "x y" new, "a b" dup
            (2, "a b c d"),       # all spans seen -> doc dropped
            (3, "x y z"),         # "x y" dup, "z" new (short tail span)
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["dedup_text"], r["n_kept"])
        for r in dedup.paragraph_dedup(docs, window_tokens=2).collect()
    }
    assert out == {0: ("a b c d", 2), 1: ("x y", 1), 3: ("z", 1)}


def test_hll_shard_merge_error_bound_and_merge_consistency(spark, sf_dir):
    """Shard HLL estimates and the union-merged global estimate must all
    land within 5% of exact (HLL at default lgConfigK=12 has ~1.6%
    standard error), and the merged estimate must be >= any shard's
    (distinct counts are monotone under union)."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q_hll_shard_merge"](spark, sf_dir).collect()
    overall = [r for r in rows if r["event_type"] == "*"][0]
    shards = [r for r in rows if r["event_type"] not in ("*",) and not r["event_type"].startswith("GATE")]
    assert shards
    for r in rows:
        assert abs(r["rel_err"]) < 0.05, r
    assert overall["est_distinct"] >= max(s["est_distinct"] for s in shards)
    # r08: the driver-visible gate row must be present when the bound holds
    assert any(r["event_type"].startswith("GATE") for r in rows)


def test_count_min_sketch_point_query_guarantee(spark):
    """CMS one-sided guarantee: estimate >= true count, and <= true +
    eps*N with high probability. The sketch is an opaque mergeable
    binary (the per-shard rollup state); point queries deserialize it
    via the JVM sketch library."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        (F.col("id") % 100).cast("long").alias("k")
    )
    blob = bytes(
        df.agg(
            F.count_min_sketch("k", F.lit(0.01), F.lit(0.99), F.lit(42)).alias("s")
        ).collect()[0]["s"]
    )
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(blob)
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bais)
    true = 100  # each key appears exactly 100 times
    for k in (0, 7, 99):
        est = cms.estimateCount(jvm.java.lang.Long(k))
        assert est >= true
        assert est <= true + 0.01 * 10_000


def test_freq_items_superset_of_exact_heavy_hitters(spark, sf_dir):
    """df.stat.freqItems guarantee: the result contains every item with
    frequency > support (may contain false positives, never false
    negatives)."""
    from pyspark.sql import functions as F

    from automated_property_data_ingestion_document_pipeline_spark import catalog

    ev = catalog.load(spark, sf_dir, "events")
    n = ev.count()
    support = 0.15
    approx = set(ev.stat.freqItems(["event_type"], support).collect()[0][0])
    exact = {
        r["event_type"]
        for r in ev.groupBy("event_type").count().filter(F.col("count") > support * n).collect()
    }
    assert exact <= approx


def test_fastss_resolves_the_reference_typo_row(spark):
    """The reference's own data-quality bug (App.js:123: 'Bristill
    City, VA' for Bristol City) is the motivating input: against a
    canonical list containing the corrected name, the dist-2 FastSS
    join surfaces exactly the typo pair -- and the dist-1 join
    correctly does NOT (it is two edits away)."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import dedup as dd
    from automated_property_data_ingestion_document_pipeline_spark.sources import reference_dims as rd

    rows = [(i, name) for i, (name, _st) in enumerate(rd.UI_COUNTIES)]
    rows.append((9999, "Bristol City, VA"))  # the canonical spelling
    df = spark.createDataFrame(rows, "id bigint, name string")
    pairs2 = dd.fuzzy_pairs_fastss(df, "name", "id", max_dist=2).collect()
    typo_pairs = [
        r for r in pairs2 if "Bristill" in (r["name_a"] + r["name_b"])
    ]
    assert len(typo_pairs) == 1
    assert {typo_pairs[0]["name_a"], typo_pairs[0]["name_b"]} == {
        "Bristill City, VA",
        "Bristol City, VA",
    }
    assert typo_pairs[0]["dist"] == 2
    pairs1 = dd.fuzzy_pairs_fastss(df, "name", "id", max_dist=1).collect()
    assert not [r for r in pairs1 if "Bristill" in (r["name_a"] + r["name_b"])]


def test_sessionize_capped_degenerates_to_gap_only_and_respects_cap(spark, sf_dir):
    """With an unreachable span cap the recurrence must equal the pure
    gap-based window form event-for-event; with a real cap every
    session's span stays under it."""
    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.operators.sessionize import (
        sessionize,
        sessionize_capped,
    )

    ev = catalog.load(spark, sf_dir, "events")
    gap_only = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    huge_cap = {
        (r["user_id"], r["event_id"]): r["session_n"]
        for r in sessionize_capped(ev, gap_minutes=30, max_span_minutes=10**7).collect()
    }
    assert huge_cap == gap_only

    capped = sessionize_capped(ev, gap_minutes=30, max_span_minutes=120)
    spans = (
        capped.groupBy("user_id", "session_n")
        .agg(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("span_us")
        )
        .collect()
    )
    assert spans and all(r["span_us"] < 120 * 60 * 1_000_000 for r in spans)


def test_fastss_equals_bruteforce_on_random_strings(spark):
    """Zero-false-negative check on an adversarial random domain: short
    strings over a 3-letter alphabet (dense near-neighborhoods), FastSS
    k=1 and k=2 vs all-pairs DP Levenshtein."""
    import itertools
    import random

    from automated_property_data_ingestion_document_pipeline_spark.operators import dedup as dd

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(5)
    strs = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 6))) for _ in range(60)]
    df = spark.createDataFrame(list(enumerate(strs)), "id bigint, s string")
    for k in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dd.fuzzy_pairs_fastss(df, "s", "id", max_dist=k).collect()
        }
        want = {
            (i, j, lev(strs[i], strs[j]))
            for i, j in itertools.combinations(range(len(strs)), 2)
            if lev(strs[i], strs[j]) <= k
        }
        assert got == want, f"k={k}"


def test_fastss_grouped_collapses_duplicates(spark):
    """1000 rows of only 4 distinct strings: the grouped variant's
    candidate space is the 4-string cross section (pairs ~ distinct²),
    never the 1000-row one (~10^6); multiplicities recover row-level
    pair counts exactly."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import dedup as dd

    rows = [(i, ["N/A", "NA", "n/a", "N/A"][i % 4]) for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, s string")
    # distinct strings: N/A (500), NA (250), n/a (250).
    # lev(N/A,NA)=1; lev(N/A,n/a)=2 (two case substitutions);
    # lev(NA,n/a)=3 (case-sensitive)
    out1 = dd.fuzzy_pairs_fastss_grouped(df, "s", "id", max_dist=1).collect()
    got1 = {(r["name_a"], r["name_b"]): (r["dist"], r["n_a"] * r["n_b"]) for r in out1}
    assert got1 == {("N/A", "NA"): (1, 500 * 250)}
    out2 = dd.fuzzy_pairs_fastss_grouped(df, "s", "id", max_dist=2).collect()
    got2 = {(r["name_a"], r["name_b"]): r["dist"] for r in out2}
    assert got2 == {("N/A", "NA"): 1, ("N/A", "n/a"): 2}


def test_ts_to_micros_is_resolution_invariant():
    """sessionize_capped's micro conversion must not assume datetime64[ns]:
    the same instants at ns, us, ms and s resolution must convert to the
    same integer micros (ADVICE r03 — a silent 1000x gap shrink otherwise)."""
    import numpy as np
    import pandas as pd

    from automated_property_data_ingestion_document_pipeline_spark.operators.sessionize import (
        _ts_to_micros,
    )

    base = ["2024-03-01T00:00:00.000001", "2024-03-01T12:34:56.654321"]
    ns = pd.Series(np.array(base, dtype="datetime64[ns]"))
    us = pd.Series(np.array(base, dtype="datetime64[us]"))
    assert list(_ts_to_micros(ns)) == list(_ts_to_micros(us))
    coarse = ["2024-03-01T00:00:00", "2024-03-01T12:34:56"]
    for unit in ("ms", "s"):
        got = _ts_to_micros(pd.Series(np.array(coarse, dtype=f"datetime64[{unit}]")))
        want = _ts_to_micros(pd.Series(np.array(coarse, dtype="datetime64[ns]")))
        assert list(got) == list(want)


def test_pq_query_side_cap_raises_on_misuse(spark, sf_dir, monkeypatch):
    """pq_topk/ivfpq_topk broadcast a per-query ADC LUT; an unbounded
    query side (e.g. pq_topk(corpus, corpus)) must raise the contract
    error, never OOM the driver (VERDICT r03 'What's wrong' #1)."""
    import pytest as _pytest

    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity as sim

    emb = catalog.load(spark, sf_dir, "embeddings")
    monkeypatch.setattr(sim, "MAX_QUERY_SIDE", 10)
    with _pytest.raises(ValueError, match="MAX_QUERY_SIDE"):
        sim.pq_topk(emb, emb)  # corpus-as-queries: the misuse shape
    with _pytest.raises(ValueError, match="MAX_QUERY_SIDE"):
        sim.ivfpq_topk(emb, emb)
    # bounded query side still works under the patched cap
    q = emb.filter("vec_id < 5")
    assert sim.pq_topk(emb, q, k=3).count() > 0


def test_sessionize_capped_vectorized_matches_naive_recurrence(spark):
    """The r04 segment-vectorized recurrence must be row-identical to
    the naive per-row loop on adversarial data: tight gap/span forcing
    long span-split chains, duplicate timestamps, single-event users,
    and Arrow batches small enough that state crosses batch boundaries
    many times."""
    import random

    import datetime as dt

    from automated_property_data_ingestion_document_pipeline_spark.operators.sessionize import (
        sessionize_capped,
    )

    rng = random.Random(1234)
    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for uid in range(40):
        n = rng.choice([1, 2, 3, 8, 40, 200])
        tcur = 0
        for _ in range(n):
            # gaps cluster around the 60s gap and 300s span boundaries,
            # including exact hits and zero gaps (duplicate ts)
            tcur += rng.choice([0, 1, 59, 60, 61, 299, 300, 30, 150])
            rows.append((eid, base + dt.timedelta(seconds=tcur), uid))
            eid += 1
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint")

    got = {
        (r["user_id"], r["event_id"]): r["session_n"]
        for r in sessionize_capped(
            df, gap_minutes=1, max_span_minutes=5
        ).collect()
    }

    # naive reference recurrence (the pre-r04 implementation)
    want = {}
    for uid, evs in sorted(
        {u: sorted((t, e) for (e, t, uu) in rows if uu == u) for u in range(40)}.items()
    ):
        cur, anchor, prev = 0, None, None
        for t, e in evs:
            us = int(t.timestamp() * 1_000_000)
            if cur == 0:
                cur, anchor = 1, us
            elif us - prev >= 60 * 1_000_000 or us - anchor >= 300 * 1_000_000:
                cur += 1
                anchor = us
            prev = us
            want[(uid, e)] = cur
    assert got == want


def test_sessionize_capped_state_survives_tiny_arrow_batches(spark):
    """Force multi-batch streams (maxRecordsPerBatch=7) so the carried
    (user, session, anchor, prev) state crosses batch boundaries mid-user
    and mid-session — results must not depend on batch framing."""
    import datetime as dt

    from automated_property_data_ingestion_document_pipeline_spark.operators.sessionize import (
        sessionize_capped,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i * 45), i // 500)  # 45s steps, 2 users
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = {
            (r["user_id"], r["event_id"]): r["session_n"]
            for r in sessionize_capped(df, gap_minutes=1, max_span_minutes=5).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    big = {
        (r["user_id"], r["event_id"]): r["session_n"]
        for r in sessionize_capped(df, gap_minutes=1, max_span_minutes=5).collect()
    }
    assert small == big
    # 45s steps never hit the 60s gap; the 300s span splits every 7th
    # event (ceil(300/45)=7): session numbers must climb accordingly
    assert max(v for (u, e), v in big.items() if u == 0) == (999 % 500 * 45) // 315 + 1


def test_sq8_recall_gate(spark, sf_dir):
    """SQ8 keeps per-dimension resolution (unlike PQ's subspace
    clustering), so its gate is stricter: overall recall@5 ≥ 0.9 with
    the default 4k exact rerank. Measured 1.0 at sf0.01."""
    from automated_property_data_ingestion_document_pipeline_spark.plans import QUERIES

    rows = QUERIES["q_sq8_recall"](spark, sf_dir).collect()
    overall = [r for r in rows if r.query_id == -1][0]
    assert overall["recall_at_5"] >= 0.9


def test_semantic_dedup_recluster_knob(spark, sf_dir):
    """r07 (VERDICT r06 ask #6): the productized scale knob.
    semantic_dedup(recluster_cells=k) must (a) replace the upstream
    label with a deterministic centroid_assign cell at granularity k
    and apply the SAME min-id dominance within those cells — verified
    against a brute-force numpy reimplementation over the collected
    assignments — (b) keep the output schema identical to the input
    (no _semcell leak), and (c) be deterministic across invocations
    (seeded codebook, bounded sample)."""
    import numpy as np

    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity as sim

    emb = catalog.load(spark, sf_dir, "embeddings")
    k = 7
    got = sim.semantic_dedup(emb, "label", 0.3, recluster_cells=k)
    assert got.columns == emb.columns  # no _semcell leak
    survivors = sorted(r.vec_id for r in got.select("vec_id").collect())
    again = sorted(
        r.vec_id
        for r in sim.semantic_dedup(emb, "label", 0.3, recluster_cells=k)
        .select("vec_id")
        .collect()
    )
    assert survivors == again  # deterministic

    # brute force: same cells (centroid_assign is the contract), then
    # min-id dominance within each cell at round-6 cosine >= 0.3
    rows = (
        sim.centroid_assign(emb, k)
        .select("vec_id", "embedding", "_cell")
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["_cell"], []).append((r["vec_id"], np.array(r["embedding"], dtype="float64")))
    dropped = set()
    for members in by_cell.values():
        members.sort()
        for i, (ida, va) in enumerate(members):
            for idb, vb in members[i + 1:]:
                c = float(va @ vb) / max(float(np.linalg.norm(va)) * float(np.linalg.norm(vb)), 1e-300)
                if round(c, 6) >= 0.3:
                    dropped.add(idb)
    expect = sorted(r.vec_id for r in emb.select("vec_id").collect() if r.vec_id not in dropped)
    assert survivors == expect
    # the knob actually reclusters: cell count used, not the raw label
    assert len(by_cell) > 1


def test_semantic_dedup_auto_recluster_contract(spark, sf_dir):
    """r10 (verdict ask #1): the scale valve is the DEFAULT, not a
    manual knob. Below SEM_DEDUP_MAX_MEAN_CELL the caller's clusters
    pass through untouched (auto == explicit None, bit-for-bit — the
    oracle-compatibility half); above it the operator derives
    ~N/SEM_DEDUP_TARGET_CELL centroid cells (auto == the explicit
    derived granularity — the corpus-tracking half), observable via
    LAST_SEMDEDUP_CELLS."""
    from pyspark.sql import functions as F

    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity as sim

    emb = catalog.load(spark, sf_dir, "embeddings")  # mean |label| = 50
    auto = sorted(r.vec_id for r in sim.semantic_dedup(emb, "label", 0.3).select("vec_id").collect())
    assert sim.LAST_SEMDEDUP_CELLS is None  # under the trigger: pass-through
    explicit_none = sorted(
        r.vec_id
        for r in sim.semantic_dedup(emb, "label", 0.3, recluster_cells=None)
        .select("vec_id")
        .collect()
    )
    assert auto == explicit_none

    # one fat cluster over the trigger: 3000 rows, a single label ->
    # mean 3000 > 1024 -> derived cells = ceil(3000/512) = 6
    fat = (
        spark.range(3000)
        .select(
            F.col("id").alias("vec_id"),
            F.lit(0).alias("label"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda d: (
                    F.pmod(F.xxhash64(F.col("id") / 97, d), F.lit(1000)).cast("double")
                    / 500.0
                    - 1.0
                ),
            ).alias("embedding"),
        )
    )
    auto_fat = sorted(r.vec_id for r in sim.semantic_dedup(fat, "label", 0.9).select("vec_id").collect())
    derived = sim.LAST_SEMDEDUP_CELLS
    assert derived == -(-3000 // sim.SEM_DEDUP_TARGET_CELL) == 15
    explicit = sorted(
        r.vec_id
        for r in sim.semantic_dedup(fat, "label", 0.9, recluster_cells=derived)
        .select("vec_id")
        .collect()
    )
    assert auto_fat == explicit
    # derived granularity tracks the corpus but never exceeds the
    # codebook sample bound
    assert sim.SEM_DEDUP_MAX_CELLS == 4096


def test_semantic_dedup_auto_valve_never_coarsens(spark, monkeypatch):
    """r10 review finding: when the codebook cap binds BELOW the
    caller's own cluster count, re-clustering would be COARSER than
    the existing clustering and RAISE sum(|cell|^2); the auto valve
    must fall back to pass-through instead. Constants are shrunk so a
    12-row corpus exercises the branch: 4 caller clusters of 3 (mean
    3 > trigger 2) derive min(cap 3, max(ceil(12/2)=6, 5, 2)) = 3
    cells <= 4 existing clusters -> pass-through, observable as
    LAST_SEMDEDUP_CELLS is None and results identical to explicit
    None."""
    from pyspark.sql import functions as F

    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "SEM_DEDUP_MAX_MEAN_CELL", 2)
    monkeypatch.setattr(sim, "SEM_DEDUP_TARGET_CELL", 2)
    monkeypatch.setattr(sim, "SEM_DEDUP_MAX_CELLS", 3)
    df = spark.range(12).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda d: (
                F.pmod(F.xxhash64(F.col("id"), d), F.lit(1000)).cast("double") / 500.0
                - 1.0
            ),
        ).alias("embedding"),
    )
    auto = sorted(
        r.vec_id for r in sim.semantic_dedup(df, "label", 0.5).select("vec_id").collect()
    )
    assert sim.LAST_SEMDEDUP_CELLS is None, (
        "capped-below-caller-granularity must pass through, not coarsen"
    )
    explicit_none = sorted(
        r.vec_id
        for r in sim.semantic_dedup(df, "label", 0.5, recluster_cells=None)
        .select("vec_id")
        .collect()
    )
    assert auto == explicit_none


def test_semantic_dedup_keeps_min_id_for_negative_ids(spark):
    """Two identical vectors in one cluster keep only the lower id,
    whatever the ids' sign. A salt of ``id % S`` is negative for
    negative ids and met no replicated salt, so (-3, -2) kept both."""
    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity as sim

    for ids in ((2, 3), (-3, -2)):
        df = spark.createDataFrame(
            [(i, 0, [1.0, 2.0, 3.0]) for i in ids],
            "vec_id long, label int, embedding array<double>",
        )
        kept = [r.vec_id for r in sim.semantic_dedup(df, "label", 0.9, recluster_cells=None).collect()]
        assert kept == [min(ids)], ids


def test_derived_shuffle_partitions_curve_and_tune_guards(spark):
    """r10 (verdict ask #2, finding 93 rule 2 as code): partitions
    derive from input bytes — floor of one task wave, +1 per 8 MiB,
    capped — and tune() only ever overrides Spark's default or its own
    previous derivation, never a host/caller-pinned value."""
    from automated_property_data_ingestion_document_pipeline_spark.session import (
        _SHUFFLE_MARKER,
        derived_shuffle_partitions,
        tune,
    )

    mib = 1024 * 1024
    assert derived_shuffle_partitions(None, 32) == 32
    assert derived_shuffle_partitions(18 * mib, 32) == 32      # sf0.1-scale: floor wins
    assert derived_shuffle_partitions(185 * mib, 32) == 32     # sf1.0-scale: still one wave
    assert derived_shuffle_partitions(1712 * mib, 32) == 214   # sf10-scale: the study's ~256
    assert derived_shuffle_partitions(10**15, 32) == 32768     # 100 TB: capped
    assert derived_shuffle_partitions(0, 8) == 8

    conf = spark.conf
    orig = conf.get("spark.sql.shuffle.partitions")
    orig_marker = conf.get(_SHUFFLE_MARKER, None)
    try:
        # caller-pinned (the test session pins 8, no marker): tune with
        # a huge input must NOT override
        conf.unset(_SHUFFLE_MARKER)
        tune(spark, input_bytes=10**12)
        assert conf.get("spark.sql.shuffle.partitions") == orig
        # our own previous derivation: marked -> re-derivable per corpus
        conf.set(_SHUFFLE_MARKER, orig)
        tune(spark, input_bytes=1712 * mib)
        assert conf.get("spark.sql.shuffle.partitions") == "214"
        assert conf.get(_SHUFFLE_MARKER) == "214"
        # and back down for a small corpus
        tune(spark, input_bytes=1)
        floor = os.environ.get("SPARK_GRAFT_CPUS", "32")
        assert conf.get("spark.sql.shuffle.partitions") == floor
        # Spark's 200 default is always ours to size
        conf.unset(_SHUFFLE_MARKER)
        conf.set("spark.sql.shuffle.partitions", "200")
        tune(spark, input_bytes=1712 * mib)
        assert conf.get("spark.sql.shuffle.partitions") == "214"
        # r11 (verdict ask #2, adjudicated by finding 106's two
        # same-day refutations): AQE coalescing must stay at Spark
        # defaults — tune() must NOT override parallelismFirst, the
        # advisory size, or the coalesce floor (each override was
        # measured harmful at one scale or the other).
        from automated_property_data_ingestion_document_pipeline_spark.session import _RUNTIME_CONF

        for k in (
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        ):
            assert k not in _RUNTIME_CONF, k
    finally:
        conf.set("spark.sql.shuffle.partitions", orig)
        if orig_marker is None:
            conf.unset(_SHUFFLE_MARKER)
        else:
            conf.set(_SHUFFLE_MARKER, orig_marker)


def test_cut_lineage_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """r10 (verdict ask #6): the iterative operators flip
    localCheckpoint -> reliable checkpoint THEMSELVES when the session
    has a checkpoint dir — run connected components and fixed-point
    PageRank under a temp checkpoint dir, assert identical results AND
    that checkpoint files actually landed in the dir."""
    import os

    from automated_property_data_ingestion_document_pipeline_spark.lineage import cut_lineage, has_checkpoint_dir
    from automated_property_data_ingestion_document_pipeline_spark.operators.dedup import connected_components
    from automated_property_data_ingestion_document_pipeline_spark.operators.graph import pagerank_fixedpoint

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    base_cc = {(r.id, r.cluster_id) for r in connected_components(pairs).collect()}
    base_pr = {
        (r.node, r.rank_fp)
        for r in pagerank_fixedpoint(pairs, "id_a", "id_b", iterations=3).collect()
    }

    sc = spark.sparkContext
    assert not has_checkpoint_dir(spark.range(1))
    ckpt = str(tmp_path / "reliable_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        assert has_checkpoint_dir(spark.range(1))
        got_cc = {(r.id, r.cluster_id) for r in connected_components(pairs).collect()}
        got_pr = {
            (r.node, r.rank_fp)
            for r in pagerank_fixedpoint(pairs, "id_a", "id_b", iterations=3).collect()
        }
        assert got_cc == base_cc and got_pr == base_pr
        # reliable checkpoints actually materialized on disk
        n_files = sum(len(fs) for _, _, fs in os.walk(ckpt))
        assert n_files > 0, "no checkpoint files written under the configured dir"
        # eager and lazy forms both route through the reliable path
        df = cut_lineage(spark.range(10), eager=True)
        assert df.count() == 10
    finally:
        # restore the no-checkpoint-dir state for the shared session
        # (scala: SparkContext.checkpointDir is an Option var)
        none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)
    assert not has_checkpoint_dir(spark.range(1))


def test_winnowing_guarantee_and_density(spark, tmp_path):
    """The winnowing paper's theorem (Schleimer et al. 2003 §3): two
    documents sharing a token run of length >= w + k - 1 MUST share at
    least one selected fingerprint, regardless of surrounding text —
    verified here with planted 7-token runs inside otherwise-disjoint
    vocabularies; disjoint docs share nothing; and the selected-set
    size stays well under the gram count (the sparsity that makes the
    technique indexable)."""
    import pandas as pd

    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_neardup import (
        _WINNOW_K,
        _WINNOW_W,
        q_winnowing,
    )

    run = " ".join(f"shared{i}" for i in range(_WINNOW_W + _WINNOW_K - 1))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "alpha beta gamma delta " + run + " epsilon zeta eta theta",
                "one two three four five " + run + " six seven eight nine ten",
                "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
            ],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [0, 0, 0],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    rows = {r["doc_id"]: r for r in q_winnowing(spark, sf).collect()}
    assert rows[0]["n_shared"] >= 1 and rows[1]["n_shared"] >= 1, (
        "a shared run of w+k-1 tokens must contribute a common fingerprint"
    )
    assert rows[2]["n_shared"] == 0, "disjoint text must share nothing"
    for did in (0, 1, 2):
        assert 1 <= rows[did]["n_fp"] <= rows[did]["n_grams"]


def test_neardup_incremental_probes_delta_only(spark, tmp_path):
    """The incremental lane's contract: a delta doc (doc_id % 10 == 7)
    near-duplicating a base doc is found; duplication BETWEEN base docs
    is never reported (that pair was yesterday's problem); a delta doc
    matching nothing still appears with n_cand = 0."""
    import pandas as pd

    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_neardup import (
        q_neardup_incremental,
    )

    shared = " ".join(f"tok{i}" for i in range(30))
    docs = pd.DataFrame(
        {
            # 7 and 17 are delta; 3, 4 are base near-dups of each other
            # AND of doc 7; doc 17 is unrelated
            "doc_id": [3, 4, 7, 17],
            "text": [
                shared + " basetail one",
                shared + " basetail two",
                shared + " deltatail xyz",
                "completely different words nothing shared here at all ok",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [0] * 4,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    try:
        rows = {r["doc_id"]: r for r in q_neardup_incremental(spark, sf).collect()}
    finally:
        # tmp corpora must not leak a persisted base-table set per test
        # run (r12 ADVICE)
        from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing

        dropped = bucketing.drop_corpus_tables(spark, sf)
        assert dropped, "the lane should have persisted (and we dropped) base tables"
    assert set(rows) == {7, 17}, "only delta docs appear in the report"
    assert rows[7]["n_dup"] >= 1 and rows[7]["max_jaccard"] > 0.3
    assert rows[17]["n_cand"] == 0 and rows[17]["max_jaccard"] is None


def test_longest_match_exact_runs(spark, tmp_path):
    """q_longest_match (r11): the gaps-and-islands extension recovers
    EXACT maximal shared token runs — a 12-token verbatim copy reports
    12 (not 8, not 13), an 8-token minimum match reports 8, disjoint
    text reports 0, and partner counts are distinct documents."""
    import pandas as pd

    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_text import (
        q_longest_match,
    )

    run12 = " ".join(f"r{i}" for i in range(12))
    run8 = " ".join(f"s{i}" for i in range(8))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                f"alpha beta {run12} gamma delta " + run8,
                f"one two three {run12} four five six seven",
                "totally disjoint words with no shared runs at all here ok fine",
                f"prefix {run8} suffix tail words pad pad2 pad3",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [0] * 4,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    try:
        rows = {r["doc_id"]: r for r in q_longest_match(spark, sf).collect()}
    finally:
        from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing

        bucketing.drop_corpus_tables(spark, sf)
    assert rows[0]["longest_match"] == 12 and rows[0]["n_partners"] == 2
    assert rows[1]["longest_match"] == 12 and rows[1]["n_partners"] == 1
    assert rows[2]["longest_match"] == 0 and rows[2]["n_partners"] == 0
    assert rows[3]["longest_match"] == 8 and rows[3]["n_partners"] == 1


def test_decontaminate_longmatch_planted(spark, tmp_path):
    """q_decontaminate_longmatch (r12): an eval doc (doc_id % 10 == 7)
    carrying a verbatim 10-token run from a train doc is flagged with
    the EXACT overlap length; a clean eval doc reports 0/False; overlap
    BETWEEN train docs is never reported; eval×eval overlap does not
    contaminate."""
    import pandas as pd

    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_text import (
        q_decontaminate_longmatch,
    )

    leak = " ".join(f"q{i}" for i in range(10))  # the pasted eval question
    evaldup = " ".join(f"e{i}" for i in range(9))
    docs = pd.DataFrame(
        {
            # 7, 17, 27 are eval; 1, 2 are train
            "doc_id": [1, 2, 7, 17, 27],
            "text": [
                f"forum thread intro {leak} forum thread outro pad pad",
                "train doc with nothing shared at all among these words",
                f"eval question {leak} choices follow here " + evaldup,
                "clean eval item nothing verbatim from any train corpus doc",
                f"another eval sharing only with eval {evaldup}",
            ],
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [0] * 5,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    try:
        rows = {r["doc_id"]: r for r in q_decontaminate_longmatch(spark, sf).collect()}
    finally:
        from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing

        assert bucketing.drop_corpus_tables(spark, sf)
    assert set(rows) == {7, 17, 27}, "only eval docs appear in the report"
    assert rows[7]["longest_overlap"] == 10 and rows[7]["contaminated"]
    assert rows[7]["n_train_docs"] == 1
    assert rows[17]["longest_overlap"] == 0 and not rows[17]["contaminated"]
    assert rows[27]["longest_overlap"] == 0 and not rows[27]["contaminated"], (
        "eval×eval overlap is not contamination"
    )


def test_longest_match_winnowed_equals_naive(spark, tmp_path, sf_dir):
    """q_longest_match_winnowed (r11): the winnowing-pair prefilter is
    LOSSLESS — any reportable pair shares an 8-token anchor, itself a
    >= w+k-1 = 7-token run, which the winnowing guarantee says selects
    a common fingerprint in both docs. Pinned by value equality with
    the naive twin on the sf corpus AND on a crafted corpus containing
    boundary runs (12, 8, 0 tokens shared)."""
    import pandas as pd

    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_neardup import (
        q_longest_match_winnowed,
    )
    from automated_property_data_ingestion_document_pipeline_spark.plans.queries_text import (
        q_longest_match,
    )

    run12 = " ".join(f"r{i}" for i in range(12))
    run8 = " ".join(f"s{i}" for i in range(8))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                f"alpha beta {run12} gamma delta " + run8,
                f"one two three {run12} four five six seven",
                "totally disjoint words with no shared runs at all here ok fine",
                f"prefix {run8} suffix tail words pad pad2 pad3",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [0] * 4,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    try:
        for corpus in (sf, sf_dir):
            naive = {tuple(r) for r in q_longest_match(spark, corpus).collect()}
            gated = {tuple(r) for r in q_longest_match_winnowed(spark, corpus).collect()}
            assert naive == gated and len(naive) > 0, corpus
    finally:
        from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing

        bucketing.drop_corpus_tables(spark, sf)
