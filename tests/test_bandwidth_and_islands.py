"""Auto bandwidth, attach_islands, fuzzy contiguity."""

import pytest
from pyspark.sql import functions as F

from libpysal_spark.operators.contiguity import fuzzy_contiguity
from libpysal_spark.operators.distance import (
    attach_islands, distance_band, optimize_bandwidth,
)
from libpysal_spark.pages import document_points

SF = "/root/testdata/sf0.001"


def test_optimize_bandwidth_sane(spark):
    pts = document_points(spark, SF)
    bw = optimize_bandwidth(pts, k=10, kernel="triangular")
    # bandwidth must fall inside the optimization bounds and be usable
    assert 0 < bw
    from libpysal_spark.operators.distance import knn_table

    dmax = knn_table(pts, 10).agg(F.max("dist")).first()[0]
    assert bw <= dmax * 2
    # entropy-optimal bandwidth smooths: many distinct kernel values
    from libpysal_spark.operators.distance import kernel_weights

    g = kernel_weights(pts, bw, "triangular")
    n_distinct = g.edges.filter(F.col("weight") > 0).select("weight").distinct().count()
    assert n_distinct > 100


def test_attach_islands_removes_all(spark):
    pts = document_points(spark, SF)
    g = distance_band(pts, 30.0)
    assert g.islands().count() > 0
    ga = attach_islands(g, pts)
    assert ga.islands().count() == 0
    # original edges preserved
    before = {
        (r.focal, r.neighbor)
        for r in g.edges.collect()
        if not (r.focal == r.neighbor and r.weight == 0.0)
    }
    after = {
        (r.focal, r.neighbor)
        for r in ga.edges.collect()
        if not (r.focal == r.neighbor and r.weight == 0.0)
    }
    assert before <= after


def test_fuzzy_contiguity_diamonds(spark):
    rows = []
    for gy in range(3):
        for gx in range(3):
            i = gy * 3 + gx
            r = 0.6
            ring = [(gx, gy - r), (gx + r, gy), (gx, gy + r), (gx - r, gy), (gx, gy - r)]
            rows.append((i, [{"x": float(x), "y": float(y)} for x, y in ring]))
    polys = spark.createDataFrame(rows, "id long, vertices array<struct<x: double, y: double>>")
    g = fuzzy_contiguity(polys, 1.0)
    n, _ = g.neighbor_dicts()
    assert set(n[4]) == {1, 3, 5, 7}  # rook: diamonds overlap only axially
    assert set(n[0]) == {1, 3}


def test_fuzzy_contiguity_containment(spark):
    """No boundaries cross here, so only the containment branch can link."""
    shapes = {
        0: [(0, 0), (10, 0), (10, 10), (0, 10)],  # outer square
        1: [(3, 3), (7, 3), (7, 7), (3, 7)],  # strictly inside 0
        # two L-shapes with overlapping bboxes that do not touch
        2: [(20, 0), (26, 0), (26, 2), (22, 2), (22, 6), (20, 6)],
        3: [(23, 7), (27, 7), (27, 3), (29, 3), (29, 9), (23, 9)],
        4: [(100, 100), (101, 100), (101, 101), (100, 101)],  # far away
    }
    rows = [
        (i, [{"x": float(x), "y": float(y)} for x, y in ring + ring[:1]])
        for i, ring in shapes.items()
    ]
    polys = spark.createDataFrame(rows, "id long, vertices array<struct<x: double, y: double>>")
    n, _ = fuzzy_contiguity(polys, 1.0).neighbor_dicts()
    assert n == {0: [1], 1: [0], 2: [], 3: [], 4: []}
