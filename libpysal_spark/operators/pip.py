"""Point-in-polygon join — the engine's canonical spatial-predicate join.

Reference semantics: winding-number / ray-casting containment
(reference: cg/shapes.py:1277-1340 ``contains_point``, standalone PIP at
cg/standalone.py:380; the sjoin delegate at cg/ops/tabular.py:20).

Spark design (the north_star "point-in-polygon join"):
1. **candidate generation** — polygons are exploded to the grid cells covered
   by their bounding box; points carry their own cell; an equi-join on the
   cell key yields candidate (point, polygon) pairs. This replaces the
   reference's in-memory PolygonLocator/quadtree (cg/locators.py:464,
   cg/polygonQuadTreeStructure.py:1109) with a shuffle-friendly hash join
   whose key is computed in the parquet-scan projection;
2. **exact test** — even-odd ray casting as *relational algebra*: explode
   the polygon's boundary segments, count ray crossings per (point, polygon)
   group, keep odd counts. No UDF, no Python — whole-stage codegen end to
   end, and the crossing filter + count is a partial-aggregable groupBy.

Boundary points follow the even-odd convention (same as the reference's ray
test); exact-on-edge cases are representation-dependent in any float PIP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libpysal_spark.tiling import ensure_min_parallelism, pack_cell, polygon_cells


def pip_join(
    points: DataFrame, polygons: DataFrame, cell_size: float
) -> DataFrame:
    """(point_id, polygon_id) for every point inside a polygon.

    ``points``: (id, x, y); ``polygons``: (id, vertices) with closed rings.
    ``cell_size`` should be on the order of the typical polygon extent so
    each polygon covers O(1) cells.
    """
    s = float(cell_size)
    pts = ensure_min_parallelism(points).select(
        F.col("id").alias("point_id"),
        "x",
        "y",
        pack_cell(F.floor(F.col("x") / s), F.floor(F.col("y") / s)).alias("cell"),
    )
    polys = polygon_cells(polygons, s).withColumnRenamed("id", "polygon_id")
    cand = pts.join(polys, "cell").select("point_id", "x", "y", "polygon_id", "vertices")

    # explode boundary segments; even-odd ray casting toward +x
    segs = cand.select(
        "point_id",
        "x",
        "y",
        "polygon_id",
        F.explode(
            F.arrays_zip(
                F.slice("vertices", 1, F.size("vertices") - 1).alias("p1"),
                F.slice("vertices", 2, F.size("vertices") - 1).alias("p2"),
            )
        ).alias("s"),
    ).select(
        "point_id",
        "x",
        "y",
        "polygon_id",
        F.col("s.p1.x").alias("x1"),
        F.col("s.p1.y").alias("y1"),
        F.col("s.p2.x").alias("x2"),
        F.col("s.p2.y").alias("y2"),
    )
    crossing = segs.filter(
        ((F.col("y1") > F.col("y")) != (F.col("y2") > F.col("y")))
        & (
            F.col("x")
            < (F.col("x2") - F.col("x1"))
            * (F.col("y") - F.col("y1"))
            / (F.col("y2") - F.col("y1"))
            + F.col("x1")
        )
    )
    return (
        crossing.groupBy("point_id", "polygon_id")
        .agg(F.count("*").alias("__crossings"))
        .filter(F.col("__crossings") % 2 == 1)
        .select("point_id", "polygon_id")
    )
