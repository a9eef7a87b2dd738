"""Contiguity weights: Queen / Rook via shared-key hash joins, block weights.

Reference semantics:
- Queen — polygons are neighbors iff they share >= 1 vertex; computed by
  inverting a vertex -> {polygon ids} map (reference:
  weights/_contW_lists.py:81-101, graph/_contiguity.py:13-91);
- Rook — share >= 1 full edge; key = sorted vertex pair
  (reference: weights/_contW_lists.py:103-124, graph/_contiguity.py:58-64);
- Block/regime — all pairs within the same label
  (reference: weights/util.py:235-294, graph/_contiguity.py:209-237).

Spark design: the reference's hash-map inversion IS a distributed groupBy —
explode the vertices (or consecutive-vertex edges), then self-join on the
shared key. Two shuffles total (hash by key, hash by focal for isolate
resolution); AQE skew-join handles degenerate hot vertices.

Polygon representation: ``(id, vertices: array<struct<x: double, y: double>>)``
with CLOSED exterior rings (first == last vertex). Holes/multiparts can be
encoded as additional rows sharing the id (vertex/edge keys union naturally,
matching the reference's multipolygon explode at graph/_contiguity.py:51-62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libpysal_spark.graph import Graph, _real_edges, resolve_isolates
from libpysal_spark.tiling import polygon_cells


def _vertex_table(polygons: DataFrame) -> DataFrame:
    """(id, vx, vy) — distinct vertices per polygon."""
    return (
        polygons.select("id", F.explode("vertices").alias("v"))
        .select("id", F.col("v.x").alias("vx"), F.col("v.y").alias("vy"))
        .distinct()
    )


def _edge_table(polygons: DataFrame) -> DataFrame:
    """(id, edge key) — undirected boundary segments per polygon.

    Consecutive vertex pairs from the closed ring, canonicalized by sorting
    the two endpoints (array_sort on structs = lexicographic on fields), so
    both orientations hash to the same key — the reference's
    ``tuple(sorted((v_i, v_{i+1})))`` (weights/_contW_lists.py:103-124).
    """
    segs = polygons.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("vertices", 1, F.size("vertices") - 1).alias("p1"),
                F.slice("vertices", 2, F.size("vertices") - 1).alias("p2"),
            )
        ).alias("s"),
    ).select("id", F.col("s.p1").alias("p1"), F.col("s.p2").alias("p2"))
    # drop zero-length segments, canonicalize direction
    segs = segs.filter(
        (F.col("p1.x") != F.col("p2.x")) | (F.col("p1.y") != F.col("p2.y"))
    ).withColumn("ekey", F.array_sort(F.array("p1", "p2")))
    return segs.select("id", "ekey").distinct()


def _pairs_on_key(keyed: DataFrame, key_cols: list[str]) -> DataFrame:
    """Self-join on the shared key: every pair of distinct ids sharing a key."""
    a = keyed.select(*key_cols, F.col("id").alias("focal"))
    b = keyed.select(*key_cols, F.col("id").alias("neighbor"))
    return (
        a.join(b, key_cols)
        .filter(F.col("focal") != F.col("neighbor"))
        .select("focal", "neighbor")
        .distinct()
    )


def queen(polygons: DataFrame) -> Graph:
    """Queen contiguity (shared vertex), binary weights, isolates as 0-loops."""
    verts = _vertex_table(polygons)
    pairs = _pairs_on_key(verts, ["vx", "vy"])
    edges = pairs.withColumn("weight", F.lit(1.0))
    return Graph(resolve_isolates(edges, polygons.select("id")))


def rook(polygons: DataFrame, perimeter: bool = False) -> Graph:
    """Rook contiguity (shared full edge); ``perimeter=True`` weights by the
    total shared boundary length (reference: graph/_contiguity.py:185-206)."""
    segs = _edge_table(polygons)
    a = segs.select("ekey", F.col("id").alias("focal"))
    b = segs.select("ekey", F.col("id").alias("neighbor"))
    joined = a.join(b, "ekey").filter(F.col("focal") != F.col("neighbor"))
    if perimeter:
        seg_len = F.sqrt(
            (F.col("ekey")[0]["x"] - F.col("ekey")[1]["x"]) ** 2
            + (F.col("ekey")[0]["y"] - F.col("ekey")[1]["y"]) ** 2
        )
        edges = (
            joined.withColumn("__len", seg_len)
            .groupBy("focal", "neighbor")
            .agg(F.sum("__len").alias("weight"))
        )
    else:
        edges = joined.select("focal", "neighbor").distinct().withColumn(
            "weight", F.lit(1.0)
        )
    return Graph(resolve_isolates(edges, polygons.select("id")))


def bishop(polygons: DataFrame) -> Graph:
    """Bishop contiguity = queen minus rook (shared vertex but no shared edge).

    Reference: weights/util.py:1609 context; classic lattice variant.
    """
    q = queen(polygons)
    r = rook(polygons)
    return q.difference(r)


def _orient(ax, ay, bx, by, cx, cy):
    """Sign of the cross product (b-a) x (c-a): >0 left, <0 right, 0 collinear."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _segments_intersect() -> F.Column:
    """Boolean column: segments (x1,y1)-(x2,y2) and (x3,y3)-(x4,y4) intersect.

    Classic orientation test incl. collinear-overlap cases — pure arithmetic,
    whole-stage-codegen'd (the relational replacement for shapely.intersects
    on boundaries; cf. reference cg/standalone.py:216-601).
    """
    c = F.col
    d1 = _orient(c("x3"), c("y3"), c("x4"), c("y4"), c("x1"), c("y1"))
    d2 = _orient(c("x3"), c("y3"), c("x4"), c("y4"), c("x2"), c("y2"))
    d3 = _orient(c("x1"), c("y1"), c("x2"), c("y2"), c("x3"), c("y3"))
    d4 = _orient(c("x1"), c("y1"), c("x2"), c("y2"), c("x4"), c("y4"))
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )

    def on_seg(px, py, qx, qy, rx, ry):
        # r collinear with pq and within its bbox
        return (
            (F.least(px, qx) <= rx) & (rx <= F.greatest(px, qx))
            & (F.least(py, qy) <= ry) & (ry <= F.greatest(py, qy))
        )

    collinear = (
        ((d1 == 0) & on_seg(c("x3"), c("y3"), c("x4"), c("y4"), c("x1"), c("y1")))
        | ((d2 == 0) & on_seg(c("x3"), c("y3"), c("x4"), c("y4"), c("x2"), c("y2")))
        | ((d3 == 0) & on_seg(c("x1"), c("y1"), c("x2"), c("y2"), c("x3"), c("y3")))
        | ((d4 == 0) & on_seg(c("x1"), c("y1"), c("x2"), c("y2"), c("x4"), c("y4")))
    )
    return proper | collinear


def _bbox_candidates(polygons: DataFrame, cell_size: float) -> DataFrame:
    """Unordered candidate polygon pairs via bbox-cell cover join."""
    covered = polygon_cells(polygons, cell_size)
    a = covered.select("cell", F.col("id").alias("focal"), F.col("vertices").alias("va"))
    b = covered.select("cell", F.col("id").alias("neighbor"), F.col("vertices").alias("vb"))
    return (
        a.join(b, "cell")
        .filter(F.col("focal") < F.col("neighbor"))
        .select("focal", "neighbor", "va", "vb")
        .distinct()
    )


def _segment_pairs(cand: DataFrame) -> DataFrame:
    """Explode candidate pairs to all boundary-segment pairs (x1..y4)."""

    def segs(col):
        return F.explode(
            F.arrays_zip(
                F.slice(col, 1, F.size(col) - 1).alias("p"),
                F.slice(col, 2, F.size(col) - 1).alias("q"),
            )
        )

    sa = cand.select("focal", "neighbor", "vb", segs(F.col("va")).alias("sa")).select(
        "focal", "neighbor", "vb",
        F.col("sa.p.x").alias("x1"), F.col("sa.p.y").alias("y1"),
        F.col("sa.q.x").alias("x2"), F.col("sa.q.y").alias("y2"),
    )
    return sa.select(
        "focal", "neighbor", "x1", "y1", "x2", "y2", segs(F.col("vb")).alias("sb")
    ).select(
        "focal", "neighbor", "x1", "y1", "x2", "y2",
        F.col("sb.p.x").alias("x3"), F.col("sb.p.y").alias("y3"),
        F.col("sb.q.x").alias("x4"), F.col("sb.q.y").alias("y4"),
    )


def queen_strict(polygons: DataFrame, cell_size: float) -> Graph:
    """Strict (pointset) queen: neighbors share >= 1 boundary POINT.

    Reference: graph/_contiguity.py:94-135 (STRtree + shapely touches). For a
    valid tessellation (interiors disjoint) shared-boundary-point == some
    segment pair intersects, which the relational orientation test decides —
    this catches T-junction contacts the vertex-hash path cannot see.
    """
    cand = _bbox_candidates(polygons, cell_size)
    half = _segment_pairs(cand).filter(_segments_intersect()).select(
        "focal", "neighbor"
    ).distinct()
    pairs = half.unionByName(
        half.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
    ).withColumn("weight", F.lit(1.0))
    return Graph(resolve_isolates(pairs, polygons.select("id")))


def rook_strict(polygons: DataFrame, cell_size: float) -> Graph:
    """Strict rook: neighbors share a boundary segment of POSITIVE length.

    Reference: graph/_contiguity.py:138-182 (DE-9IM "F***1****"). Relational
    predicate: some segment pair is collinear with positive-length 1-D
    overlap — all orientation/interval arithmetic, no geometry library.
    """
    sp = _segment_pairs(_bbox_candidates(polygons, cell_size))
    c = F.col
    d1 = _orient(c("x1"), c("y1"), c("x2"), c("y2"), c("x3"), c("y3"))
    d2 = _orient(c("x1"), c("y1"), c("x2"), c("y2"), c("x4"), c("y4"))
    collinear = (d1 == 0) & (d2 == 0)
    # project onto the dominant axis of segment 1 and require interval overlap
    use_x = F.abs(c("x2") - c("x1")) >= F.abs(c("y2") - c("y1"))
    lo_a = F.when(use_x, F.least(c("x1"), c("x2"))).otherwise(F.least(c("y1"), c("y2")))
    hi_a = F.when(use_x, F.greatest(c("x1"), c("x2"))).otherwise(F.greatest(c("y1"), c("y2")))
    lo_b = F.when(use_x, F.least(c("x3"), c("x4"))).otherwise(F.least(c("y3"), c("y4")))
    hi_b = F.when(use_x, F.greatest(c("x3"), c("x4"))).otherwise(F.greatest(c("y3"), c("y4")))
    overlap = F.least(hi_a, hi_b) - F.greatest(lo_a, lo_b)
    half = (
        sp.filter(collinear & (overlap > 0))
        .select("focal", "neighbor")
        .distinct()
    )
    pairs = half.unionByName(
        half.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
    ).withColumn("weight", F.lit(1.0))
    return Graph(resolve_isolates(pairs, polygons.select("id")))


def fuzzy_contiguity(polygons: DataFrame, cell_size: float) -> Graph:
    """Neighbors = polygons whose (optionally pre-buffered) shapes intersect.

    Reference: weights/util.py:1471-1605 / graph/_contiguity.py:240-299 —
    sindex candidates + shapely ``intersects``. Spark-relational version:

    1. candidates — bbox-cell equi-join (same machinery as the PIP join);
    2. exact test — polygons A, B intersect iff ANY boundary segment pair
       intersects OR a vertex of one lies inside the other (covers
       containment). Both predicates are pure column arithmetic: segment
       orientation tests + even-odd crossing counts. No geometry library.

    Buffering (the reference's ``buffering=True``) is the caller's concern:
    pass pre-buffered vertex rings.
    """
    # consumed by BOTH the segment-crossing and containment branches —
    # a lazy local checkpoint materializes the candidate join once; the
    # context cleaner reclaims it when the plans are dropped (r6: the
    # former Graph-lifetime persist pin evaporated before first use in
    # the Graph(...).edges pattern)
    cand = _bbox_candidates(polygons, cell_size).localCheckpoint(eager=False)
    half = _pairs_intersecting(cand)
    pairs = half.unionByName(
        half.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
    ).withColumn("weight", F.lit(1.0))
    return Graph(resolve_isolates(pairs, polygons.select("id")))


def _ring_contains(pt_x, pt_y, ring) -> F.Column:
    """Even-odd crossing test: point strictly inside the closed ring."""
    pairs = F.arrays_zip(
        F.slice(ring, 1, F.size(ring) - 1).alias("p"),
        F.slice(ring, 2, F.size(ring) - 1).alias("q"),
    )
    crossings = F.size(
        F.filter(
            pairs,
            lambda s: ((s["p"]["y"] > pt_y) != (s["q"]["y"] > pt_y))
            & (
                pt_x
                < (s["q"]["x"] - s["p"]["x"])
                * (pt_y - s["p"]["y"])
                / (s["q"]["y"] - s["p"]["y"])
                + s["p"]["x"]
            ),
        )
    )
    return crossings % 2 == 1


def _pairs_intersecting(cand: DataFrame) -> DataFrame:
    """Filter candidate rows (focal, neighbor, va, vb) to truly intersecting
    polygon pairs: any boundary segment pair crosses, or either first vertex
    is contained in the other ring (covers full containment)."""
    crossing = _segment_pairs(cand).filter(_segments_intersect()).select(
        "focal", "neighbor"
    ).distinct()
    contain = cand.filter(
        _ring_contains(F.col("va")[0]["x"], F.col("va")[0]["y"], F.col("vb"))
        | _ring_contains(F.col("vb")[0]["x"], F.col("vb")[0]["y"], F.col("va"))
    ).select("focal", "neighbor")
    return crossing.unionByName(contain).distinct()


def dilate_rings(polygons: DataFrame, distance: float) -> DataFrame:
    """Miter-offset each ring outward by ``distance``.

    Relational stand-in for shapely ``buffer`` (no geometry lib in this
    engine), as the reference's island repair uses it
    (weights/util.py:1448-1452). Each vertex moves along the bisector of its
    adjacent OUTWARD edge normals, scaled 1/cos(half-angle) (the miter
    offset: 2d·(n1+n2)/|n1+n2|²), so every EDGE sits exactly ``distance``
    outside the original — a superset of the true round-join buffer that
    over-covers only inside the miter wedge at vertices, bounded by the
    standard miter limit (capped at 4d for near-reflex spikes). ADVICE r2:
    the previous radial-from-centroid displacement under-buffered edge
    midpoints and could MISS edge-to-edge repairs; the miter offset cannot.

    Orientation-free: the outward side is chosen per ring from its shoelace
    sign. Pure column expressions (transform with index) — JVM codegen, no
    Python. Expects closed rings (first == last vertex).
    """
    d = float(distance)
    open_ring = F.slice("vertices", 1, F.size("vertices") - 1)
    polys = polygons.withColumn("__r", open_ring)
    n = F.size("__r")
    # shoelace sign: +1 CCW (outward normal of edge t is (t.y, -t.x) flipped
    # by sign), computed over the closed ring
    area2 = F.aggregate(
        F.zip_with(
            "__r",
            F.concat(F.slice("__r", 2, F.size("__r") - 1), F.slice("__r", 1, 1)),
            lambda p, q: p["x"] * q["y"] - q["x"] * p["y"],
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    polys = polys.withColumn("__sgn", F.when(area2 >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)))

    def _at(i):
        return F.element_at(F.col("__r"), (F.pmod(i, n) + F.lit(1)).cast("int"))

    def miter(v, i):
        p = _at(i - 1)
        q = _at(i + 1)
        t1x, t1y = v["x"] - p["x"], v["y"] - p["y"]
        t2x, t2y = q["x"] - v["x"], q["y"] - v["y"]
        l1 = F.sqrt(t1x * t1x + t1y * t1y)
        l2 = F.sqrt(t2x * t2x + t2y * t2y)
        sgn = F.col("__sgn")
        n1x, n1y = sgn * t1y / l1, -sgn * t1x / l1
        n2x, n2y = sgn * t2y / l2, -sgn * t2x / l2
        mx, my = n1x + n2x, n1y + n2y
        m2 = mx * mx + my * my
        # scale = min(2d/m2, 4d/|m|): exact miter, limited at 4d
        scale = F.least(F.lit(2.0 * d) / m2, F.lit(4.0 * d) / F.sqrt(m2))
        ok = (l1 > 0) & (l2 > 0) & (m2 > 1e-24)
        return F.struct(
            (v["x"] + F.when(ok, mx * scale).otherwise(F.lit(0.0))).alias("x"),
            (v["y"] + F.when(ok, my * scale).otherwise(F.lit(0.0))).alias("y"),
        )

    moved = F.transform("__r", miter)
    closed = F.concat(moved, F.slice(moved, 1, 1))
    return polys.withColumn("vertices", closed).drop("__r", "__sgn")


def nonplanar_neighbors(
    g: Graph,
    polygons: DataFrame,
    tolerance: float = 0.001,
    cell_size: float | None = None,
) -> Graph:
    """Island repair for non-planar polygon collections.

    Reference: weights/util.py:1346-1467 ``nonplanar_neighbors`` — take the
    ISLANDS of ``g``, dilate them by ``tolerance * min(bbox extent)``, and
    re-intersect against all polygons; every hit becomes a symmetric new
    edge. (The reference's first undilated pass is subsumed: dilation only
    grows convex rings, so undilated intersections are still found.)

    Scale shape: only the island polygons are dilated and probed — the
    island side is small by construction, so the bbox-cell candidate join is
    a broadcast against the full polygon table; nothing quadratic.
    """
    # the input graph's edge table derives from a possibly expensive build
    # (e.g. fuzzy contiguity) and is consumed through THREE lazy paths below
    # (islands, kept, all_ids) — pin it once or the upstream build runs 3x
    edges = g.edges.localCheckpoint()
    islands = (
        edges.filter((F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0))
        .select(F.col("focal").alias("id"))
        .localCheckpoint()
    )
    bounds = polygons.select(
        F.explode("vertices").alias("v")
    ).agg(
        F.min("v.x").alias("x0"), F.max("v.x").alias("x1"),
        F.min("v.y").alias("y0"), F.max("v.y").alias("y1"),
    ).first()
    distance = float(tolerance) * min(bounds.x1 - bounds.x0, bounds.y1 - bounds.y0)
    if cell_size is None:
        cell_size = max((bounds.x1 - bounds.x0) / 64.0, distance * 4.0, 1e-9)

    isl_polys = dilate_rings(
        polygons.join(islands, "id", "left_semi"), distance
    )

    # islands are small BY CONSTRUCTION in real data (they are the repair
    # set); broadcast only while that holds — a pathological all-island
    # input falls back to the plain hash join rather than OOMing the driver
    a = polygon_cells(isl_polys, cell_size).select(
        F.col("id").alias("focal"), F.col("vertices").alias("va"), "cell"
    )
    if islands.count() <= 100_000:
        a = F.broadcast(a)
    b = polygon_cells(polygons, cell_size).select(
        F.col("id").alias("neighbor"), F.col("vertices").alias("vb"), "cell"
    )
    cand = (
        a.join(b, "cell")
        .filter(F.col("focal") != F.col("neighbor"))
        .select("focal", "neighbor", "va", "vb")
        .distinct()
    )
    hits = _pairs_intersecting(cand)
    new_edges = (
        hits.unionByName(
            hits.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    kept = _real_edges(edges)
    all_ids = edges.select(F.col("focal").alias("id")).distinct()
    merged = (
        kept.select("focal", "neighbor", "weight")
        .unionByName(new_edges)
        .groupBy("focal", "neighbor")
        .agg(F.max("weight").alias("weight"))
    )
    return Graph(resolve_isolates(merged, all_ids))


def block_weights(labels: DataFrame, id_col: str = "id", label_col: str = "regime") -> Graph:
    """All pairs sharing a regime label, minus self (weights/util.py:235-294).

    An equi self-join on the label; large regimes are quadratic by definition —
    AQE skew-join splits hot labels (web-scale analog: giant same-host blocks).
    """
    a = labels.select(F.col(label_col).alias("__r"), F.col(id_col).alias("focal"))
    b = labels.select(F.col(label_col).alias("__r"), F.col(id_col).alias("neighbor"))
    pairs = (
        a.join(b, "__r")
        .filter(F.col("focal") != F.col("neighbor"))
        .select("focal", "neighbor")
        .withColumn("weight", F.lit(1.0))
    )
    return Graph(resolve_isolates(pairs, labels.select(F.col(id_col).alias("id"))))
