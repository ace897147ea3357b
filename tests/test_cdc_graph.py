"""Unit tests for the CDC merge family (operators/cdc.py) and graph
analytics (operators/graph.py) on hand-checkable inputs. Corpus-level
parity for both lives in tests/test_oracle_parity.py."""

from __future__ import annotations

from automated_property_data_ingestion_document_pipeline_spark.operators import cdc, graph


def _df(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


# -- cdc ----------------------------------------------------------------------


def test_merge_upsert_updates_inserts_and_passes_through(spark):
    target = _df(spark, "k long, v string", [(1, "a"), (2, "b")])
    source = _df(spark, "k long, v string", [(2, "B"), (3, "C")])
    got = {r.k: r.v for r in cdc.merge_upsert(target, source, "k", ["v"]).collect()}
    assert got == {1: "a", 2: "B", 3: "C"}


def test_apply_changes_latest_wins_deletes_and_upserts(spark):
    base = _df(spark, "k long, v string", [(1, "a"), (2, "b"), (3, "c")])
    changes = _df(
        spark,
        "k long, seq long, op string, v string",
        [
            (1, 1, "U", "a1"),
            (1, 2, "D", None),  # final op for key 1: delete
            (2, 1, "D", None),
            (2, 2, "U", "b2"),  # delete then re-upsert: survives as b2
            (4, 1, "I", "d"),  # insert of a key absent from base
        ],
    )
    out = cdc.apply_changes(base, changes, "k", ["seq"], "op", ["v"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {2: "b2", 3: "c", 4: "d"}


def test_apply_changes_is_replay_deterministic(spark):
    # two changes with the same seq: the tiebreak column decides
    base = _df(spark, "k long, v string", [])
    changes = _df(
        spark,
        "k long, seq long, tie long, op string, v string",
        [(1, 1, 1, "U", "x"), (1, 1, 2, "U", "y")],
    )
    out = cdc.apply_changes(base, changes, "k", ["seq", "tie"], "op", ["v"])
    assert [r.v for r in out.collect()] == ["y"]


# -- graph --------------------------------------------------------------------


def test_canonical_edges_dedups_reverses_and_drops_loops(spark):
    e = _df(
        spark,
        "a long, b long",
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)],
    )
    got = {(r.u, r.v) for r in graph.canonical_edges(e, "a", "b").collect()}
    assert got == {(1, 2), (2, 3)}


def test_triangles_on_k4(spark):
    # complete graph on {1,2,3,4}: C(4,3)=4 triangles; grouped by min
    # vertex -> 1 owns (123)(124)(134), 2 owns (234)
    rows = [(u, v) for u in range(1, 5) for v in range(1, 5) if u < v]
    e = _df(spark, "a long, b long", rows)
    got = {r.u: r.n_tri for r in graph.triangles_per_lowest_vertex(e, "a", "b").collect()}
    assert got == {1: 3, 2: 1}


def test_triangles_hub_graph(spark):
    # star around 0 (no triangles) plus one closing edge -> exactly one
    rows = [(0, i) for i in range(1, 20)] + [(1, 2)]
    e = _df(spark, "a long, b long", rows)
    got = {r.u: r.n_tri for r in graph.triangles_per_lowest_vertex(e, "a", "b").collect()}
    assert got == {0: 1}


def test_degree_histogram(spark):
    e = _df(spark, "a long, b long", [(1, 2), (2, 3)])
    got = {r.degree: r.n_nodes for r in graph.degree_histogram(
        graph.canonical_edges(e, "a", "b")
    ).collect()}
    assert got == {1: 2, 2: 1}


def test_pagerank_mass_and_ordering(spark):
    # path graph 1-2-3-4-5: mass conserved, middle nodes outrank ends
    e = _df(spark, "a long, b long", [(1, 2), (2, 3), (3, 4), (4, 5)])
    ranks = {r.node: r.rank for r in graph.pagerank(e, "a", "b", iterations=12).collect()}
    assert abs(sum(ranks.values()) - 5.0) < 1e-6  # no dangling mass
    assert ranks[3] > ranks[1] and ranks[3] > ranks[5]  # centrality order
    assert abs(ranks[1] - ranks[5]) < 1e-9  # symmetry


def test_pagerank_star_hub_dominates(spark):
    e = _df(spark, "a long, b long", [(0, i) for i in range(1, 9)])
    ranks = {r.node: r.rank for r in graph.pagerank(e, "a", "b").collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 2


def test_pagerank_fixedpoint_matches_float_and_is_exact(spark):
    """The portable twin must (a) track the float form to within the
    accumulated floor error (8 iterations × ≤1 unit per floor at scale
    1e-12 — far under 1e-6 of rank), (b) keep the float form's symmetry
    EXACTLY (integer arithmetic: symmetric nodes get the same BIGINT,
    not merely close doubles), and (c) be bit-stable across runs."""
    e = _df(spark, "a long, b long", [(1, 2), (2, 3), (3, 4), (4, 5)])
    fp = {r.node: r.rank_fp for r in graph.pagerank_fixedpoint(e, "a", "b").collect()}
    fl = {r.node: r.rank for r in graph.pagerank(e, "a", "b").collect()}
    assert set(fp) == set(fl)
    for n in fp:
        assert abs(fp[n] / 1e12 - fl[n]) < 1e-6, (n, fp[n], fl[n])
    assert fp[1] == fp[5] and fp[2] == fp[4]  # exact, not approximate
    fp2 = {r.node: r.rank_fp for r in graph.pagerank_fixedpoint(e, "a", "b").collect()}
    assert fp == fp2


def test_pagerank_fixedpoint_small_scale_knob(spark):
    """scale=10**9 (the large-graph overflow knob) keeps ordering and
    stays within its coarser quantization of the float ranks."""
    e = _df(spark, "a long, b long", [(0, i) for i in range(1, 9)])
    fp = {
        r.node: r.rank_fp
        for r in graph.pagerank_fixedpoint(e, "a", "b", scale=10**9).collect()
    }
    fl = {r.node: r.rank for r in graph.pagerank(e, "a", "b").collect()}
    assert max(fp, key=fp.get) == 0
    for n in fp:
        assert abs(fp[n] / 1e9 - fl[n]) < 1e-3


def test_pagerank_fixedpoint_overflow_bound_enforced(spark):
    """r07 advice graph.py:145 / verdict ask #4: the 2^63 bound is
    enforced, not documented. An explicit scale that 17·|V|·scale would
    overflow raises typed ValueError (never wrapped ranks); the default
    auto-derives a smaller power of 10 that satisfies the bound and
    still runs; small graphs keep the full 1e-12 unit so driver-corpus
    output is unchanged."""
    import pytest

    # 600k nodes: a star forest of 60 hubs × 10k leaves (120k edges is
    # plenty to carry the |V| mass; built distributed, not collected)
    from pyspark.sql import functions as F

    n_hubs, leaves = 60, 10_000
    e = (
        spark.range(n_hubs * leaves)
        .select(
            (F.col("id") % n_hubs).alias("a"),
            (F.lit(n_hubs) + F.col("id")).alias("b"),
        )
    )
    with pytest.raises(ValueError, match="max safe scale"):
        graph.pagerank_fixedpoint(e, "a", "b", scale=10**12, iterations=1)
    # default auto-derives: 17 * 600060 * scale < 2^63 → scale = 10**11
    ranks = graph.pagerank_fixedpoint(e, "a", "b", iterations=1)
    one = ranks.filter(F.col("node") == 0).first()
    assert one is not None and one.rank_fp > 10**11  # hub rank > 1.0 in 1e-11 units

    # small graph: auto-derived default == explicit 10**12, bit-identical
    small = _df(spark, "a long, b long", [(1, 2), (2, 3), (3, 4), (4, 5)])
    auto = {r.node: r.rank_fp for r in graph.pagerank_fixedpoint(small, "a", "b").collect()}
    pinned = {
        r.node: r.rank_fp
        for r in graph.pagerank_fixedpoint(small, "a", "b", scale=10**12).collect()
    }
    assert auto == pinned


def test_pagerank_fixedpoint_reads_edge_input_once(spark, tmp_path, monkeypatch):
    """The checkpointed adjacency list is the only reader of the edge
    input: with the source file deleted right after the first lineage
    cut, the ranks still come out, equal to those of an untouched copy.
    A plan whose rank rounds re-scan the source fails here on the
    missing file."""
    import shutil

    rows = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (1, 3), (6, 1)]
    doomed, kept = str(tmp_path / "doomed"), str(tmp_path / "kept")
    for path in (doomed, kept):
        _df(spark, "a long, b long", rows).coalesce(1).write.parquet(path)
    want = graph.pagerank_fixedpoint(spark.read.parquet(kept), "a", "b").collect()
    real_cut = graph.cut_lineage

    def cut_then_delete(df, *args, **kwargs):
        out = real_cut(df, *args, **kwargs)
        shutil.rmtree(doomed, ignore_errors=True)  # only the first call finds it
        return out

    monkeypatch.setattr(graph, "cut_lineage", cut_then_delete)
    got = graph.pagerank_fixedpoint(spark.read.parquet(doomed), "a", "b").collect()
    assert sorted(got) == sorted(want) and len(want) == 6
