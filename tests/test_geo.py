"""Geo operator tests: the grid-bucket decomposition is EXACT (equal to
brute force pair-for-pair), handles negative coordinates and the cell
boundary, and compiles to an equi-join plan (never a cartesian)."""

from __future__ import annotations

from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.operators import geo
from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES


def _points(spark, name, rows):
    return spark.createDataFrame(rows, f"{name}_id long, {name}_x long, {name}_y long")


def _brute_pairs(big_rows, small_rows, radius):
    out = set()
    for bid, bx, by in big_rows:
        for sid, sx, sy in small_rows:
            d2 = (bx - sx) ** 2 + (by - sy) ** 2
            if d2 <= radius * radius:
                out.add((bid, sid, d2))
    return out


def test_grid_radius_join_matches_brute_force(spark):
    # deterministic scatter incl. negatives and exact-boundary pairs
    big_rows = [(i, (i * 37) % 211 - 100, (i * 53) % 211 - 100) for i in range(200)]
    small_rows = [(j, (j * 71) % 211 - 100, (j * 89) % 211 - 100) for j in range(40)]
    radius = 25
    # plant an exact-boundary pair: dist == radius must be INCLUDED
    big_rows.append((900, 0, 0))
    small_rows.append((901, radius, 0))
    got = geo.grid_radius_join(
        _points(spark, "b", big_rows),
        _points(spark, "s", small_rows),
        ("b_x", "b_y"),
        ("s_x", "s_y"),
        radius,
    ).select("b_id", "s_id", "dist2")
    got_set = {(r.b_id, r.s_id, r.dist2) for r in got.collect()}
    assert got_set == _brute_pairs(big_rows, small_rows, radius)
    assert (900, 901, radius * radius) in got_set


def test_nearest_within_ties_break_on_small_key(spark):
    big = _points(spark, "b", [(1, 0, 0)])
    # two suppliers equidistant -> lower id wins
    small = _points(spark, "s", [(7, 10, 0), (3, 0, 10), (9, 50, 50)])
    out = geo.nearest_within(
        big, small, "b_id", "s_id", ("b_x", "b_y"), ("s_x", "s_y"), 40
    ).collect()
    assert len(out) == 1
    assert out[0].s_id == 3 and out[0].dist2 == 100


def test_geo_radius_join_plan_is_equi_join_not_cartesian(spark, sf_dir):
    plan = (
        QUERIES["q_geo_radius_join"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # small side broadcast on cell_id


def test_tile_aggregate_counts(spark):
    pts = _points(spark, "p", [(1, 5, 5), (2, 7, 3), (3, 15, 5), (4, -1, 0)])
    out = geo.tile_aggregate(pts, "p_x", "p_y", 10, [F.count("*").alias("n")])
    got = {(r.tile_x, r.tile_y): r.n for r in out.collect()}
    assert got == {(0, 0): 2, (1, 0): 1, (-1, 0): 1}

