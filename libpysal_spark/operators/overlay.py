"""Overlay (polygon-intersection areas) and dissolve (boundary merge).

Reference context: cg/standalone.py + the sindex-driven overlay/dissolve
workflows libpysal users run through geopandas on top of W construction
(SURVEY §2.6 "spatial_join / overlay / dissolve"). No geometry library
exists in this engine, so:

- ``dissolve_boundary`` is fully relational: for a tessellation, the merged
  region's boundary is exactly the multiset of boundary segments used ONCE
  within the group — interior walls appear twice (once per side) and cancel.
  One explode + one groupBy; no geometry code at all.
- ``overlay`` pairs candidates with the bbox-cell join, then computes exact
  intersection areas with Sutherland–Hodgman clipping + shoelace area in a
  vectorized ``applyInPandas`` batch (the sanctioned UDF tier: per-pair
  polygon clipping is not expressible in Spark's built-ins). The CLIP layer
  must be convex (Sutherland–Hodgman precondition); the subject layer is
  arbitrary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libpysal_spark.tiling import polygon_cells


def dissolve_boundary(polygons: DataFrame, labels: DataFrame) -> DataFrame:
    """Boundary segments of each label-group's merged region.

    ``polygons``: (id, vertices) closed rings forming a tessellation within
    each group (interiors disjoint, shared walls digitized identically —
    the same precondition as rook contiguity). ``labels``: (id, label).

    Returns (label, x1, y1, x2, y2): segments on the OUTER boundary of the
    dissolved region (segments shared by two member polygons cancel).
    Aggregates like perimeter are one further groupBy away.
    """
    segs = polygons.join(labels, "id").select(
        "label",
        F.explode(
            F.arrays_zip(
                F.slice("vertices", 1, F.size("vertices") - 1).alias("p"),
                F.slice("vertices", 2, F.size("vertices") - 1).alias("q"),
            )
        ).alias("s"),
    )
    # canonicalize segment direction so both orientations collide
    canon = segs.select(
        "label",
        F.array_sort(F.array(F.col("s.p"), F.col("s.q"))).alias("ekey"),
    ).filter(
        (F.col("ekey")[0]["x"] != F.col("ekey")[1]["x"])
        | (F.col("ekey")[0]["y"] != F.col("ekey")[1]["y"])
    )
    once = (
        canon.groupBy("label", "ekey")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") == 1)
    )
    return once.select(
        "label",
        F.col("ekey")[0]["x"].alias("x1"),
        F.col("ekey")[0]["y"].alias("y1"),
        F.col("ekey")[1]["x"].alias("x2"),
        F.col("ekey")[1]["y"].alias("y2"),
    )


def dissolve_stats(polygons: DataFrame, labels: DataFrame) -> DataFrame:
    """(label, n_parts, perimeter) of each dissolved region."""
    b = dissolve_boundary(polygons, labels)
    seg_len = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    per = b.groupBy("label").agg(F.sum(seg_len).alias("perimeter"))
    parts = labels.groupBy("label").agg(F.count("*").alias("n_parts"))
    return parts.join(per, "label", "left").select(
        "label", "n_parts", F.coalesce("perimeter", F.lit(0.0)).alias("perimeter")
    )


def _clip_ring(subject: list, clip: list) -> list:
    """Sutherland–Hodgman clip (clip ring must be convex, CCW or CW).
    Returns the clipped OPEN ring (possibly empty). Pure python on small
    vertex lists."""

    def inside(p, a, b):
        return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])

    # orient clip CCW (full-cycle shoelace: with an OPEN input ring the old
    # range(len-1) form skipped the closing edge and could mis-detect the
    # orientation)
    cl = clip[:-1] if clip[0] == clip[-1] else clip
    area2 = sum(
        cl[i][0] * cl[(i + 1) % len(cl)][1] - cl[(i + 1) % len(cl)][0] * cl[i][1]
        for i in range(len(cl))
    )
    if area2 < 0:
        cl = cl[::-1]
    out = subject[:-1] if subject[0] == subject[-1] else subject
    n = len(cl)
    for i in range(n):
        a, b = cl[i], cl[(i + 1) % n]
        if not out:
            return []
        cur = out
        out = []
        for j in range(len(cur)):
            p, q = cur[j], cur[(j + 1) % len(cur)]
            pin = inside(p, a, b) >= 0
            qin = inside(q, a, b) >= 0
            if pin:
                out.append(p)
            if pin != qin:
                dp = inside(p, a, b)
                dq = inside(q, a, b)
                t = dp / (dp - dq)
                out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
    return out if len(out) >= 3 else []


def _clip_area(subject: list, clip: list) -> float:
    """Clipped-intersection area: Sutherland–Hodgman + shoelace."""
    out = _clip_ring(subject, clip)
    if not out:
        return 0.0
    s = 0.0
    for j in range(len(out)):
        p, q = out[j], out[(j + 1) % len(out)]
        s += p[0] * q[1] - q[0] * p[1]
    return abs(s) / 2.0


def _ear_clip(ring: "np.ndarray") -> list:
    """Triangulate a simple polygon (open CCW ring) by ear clipping.

    Returns a list of (3, 2) triangle arrays that PARTITION the polygon —
    the decomposition that lets a non-convex clip layer reuse the convex
    Sutherland–Hodgman kernel: area(a ∩ poly) = Σ_tri area(a ∩ tri)
    (the same per-triangle route as Voronoi's alpha clip,
    delaunay.voronoi_alpha_clip_areas). Public algorithm (Meisters 1975).
    """
    import numpy as np

    pts = list(range(len(ring)))

    def cross(o, a, b):
        return (ring[a][0] - ring[o][0]) * (ring[b][1] - ring[o][1]) - (
            ring[a][1] - ring[o][1]
        ) * (ring[b][0] - ring[o][0])

    def seg_cross(p, q, u, v):
        """Segments pq and uv properly intersect (or overlap collinearly)."""
        d1 = cross(p, q, u)
        d2 = cross(p, q, v)
        d3 = cross(u, v, p)
        d4 = cross(u, v, q)
        if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 != 0 and d2 != 0:
            return True
        return False

    tris = []
    guard = 0
    while len(pts) > 3 and guard < 10000:
        guard += 1
        n = len(pts)
        for k in range(n):
            i0, i1, i2 = pts[k - 1], pts[k], pts[(k + 1) % n]
            if cross(i0, i1, i2) <= 0:
                continue  # reflex corner, not an ear
            # (a) no other vertex inside the candidate ear; (b) the diagonal
            # (i0, i2) crosses no remaining polygon edge. The vertex test
            # alone is NOT sufficient — a boundary chain can cut across the
            # ear triangle with both endpoints outside (live counterexample
            # in tests/test_more_ops.py::test_ear_clip_partitions_polygon).
            ax, ay = ring[i0]
            bx, by = ring[i1]
            cx, cy = ring[i2]
            ok = True
            for j in pts:
                if j in (i0, i1, i2):
                    continue
                px, py = ring[j]
                d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
                d2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
                d3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
                if d1 >= 0 and d2 >= 0 and d3 >= 0:
                    ok = False
                    break
            if ok:
                for m in range(n):
                    u, v = pts[m], pts[(m + 1) % n]
                    if len({u, v} & {i0, i2}):
                        continue
                    if seg_cross(i0, i2, u, v):
                        ok = False
                        break
            if ok:
                tris.append(np.array([ring[i0], ring[i1], ring[i2]]))
                pts.pop(k)
                break
        else:
            break  # degenerate input: emit remaining fan below
    if len(pts) >= 3:
        for k in range(1, len(pts) - 1):
            tris.append(np.array([ring[pts[0]], ring[pts[k]], ring[pts[k + 1]]]))
    # partition validation (ADVICE r5): a correct decomposition tiles the
    # ring, so Σ|triangle| == |shoelace(ring)|. The no-ear fallback's fan
    # can overlap itself on a degenerate/near-non-simple remainder, which
    # would silently overstate intersection areas downstream — make it loud.
    ring_area = 0.0
    for i in range(len(ring)):
        j = (i + 1) % len(ring)
        ring_area += ring[i][0] * ring[j][1] - ring[j][0] * ring[i][1]
    ring_area = abs(ring_area) / 2.0
    tri_area = sum(
        abs(
            (t[1][0] - t[0][0]) * (t[2][1] - t[0][1])
            - (t[1][1] - t[0][1]) * (t[2][0] - t[0][0])
        )
        / 2.0
        for t in tris
    )
    if ring_area > 0 and abs(tri_area - ring_area) > 1e-9 * max(ring_area, 1.0):
        import warnings

        warnings.warn(
            f"ear-clip decomposition does not tile the ring (sum of triangle "
            f"areas {tri_area!r} vs ring area {ring_area!r}) — input is "
            "degenerate or non-simple; downstream overlay areas for this "
            "polygon are unreliable"
        )
    return tris


def triangulate_b_layer(b_polys: DataFrame) -> DataFrame:
    """(id, vertices) arbitrary simple rings → (id, vertices) one row per
    ear-clip triangle (closed 4-vertex rings). Runs in mapInPandas — each
    polygon decomposes where it sits, no shuffle."""
    import numpy as np

    from libpysal_spark.functions.clip2d import _open_rings, rings_from_arrow

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids, rows = [], []
            for bid, ring in zip(
                pdf["id"].to_numpy(), _open_rings(rings_from_arrow(pdf["vertices"]))
            ):
                # orient CCW for ear clipping
                a2 = 0.0
                for i in range(len(ring)):
                    j = (i + 1) % len(ring)
                    a2 += ring[i][0] * ring[j][1] - ring[j][0] * ring[i][1]
                if a2 < 0:
                    ring = ring[::-1]
                for t in _ear_clip(ring):
                    ids.append(int(bid))
                    rows.append(
                        [{"x": float(x), "y": float(y)} for x, y in t]
                        + [{"x": float(t[0][0]), "y": float(t[0][1])}]
                    )
            yield pd.DataFrame({"id": ids, "vertices": rows})

    return b_polys.mapInPandas(
        batches, "id long, vertices array<struct<x double, y double>>"
    )


def overlay(
    a_polys: DataFrame,
    b_polys: DataFrame,
    cell_size: float,
    min_area: float = 0.0,
    b_convex: bool = True,
) -> DataFrame:
    """(a_id, b_id, area) for every intersecting polygon pair.

    Candidates via the bbox-cell equi-join (the engine's spatial-join
    primitive); exact areas via Sutherland–Hodgman + shoelace in Arrow
    batches. With ``b_convex=True`` the ``b_polys`` rings must be convex
    (Sutherland–Hodgman precondition); ``b_convex=False`` accepts ARBITRARY
    simple rings — each b polygon is ear-clipped into a partition of
    triangles (each convex), pair areas are computed per (a, b-triangle)
    and summed per (a, b): exact because the triangles tile the polygon
    (reference parity: cg/ops/tabular.py:20-127 geopandas overlay handles
    arbitrary polygons).
    """
    if not b_convex:
        b_tris = triangulate_b_layer(b_polys)
        per_tri = overlay(a_polys, b_tris, cell_size, min_area=0.0)
        return (
            per_tri.groupBy("a_id", "b_id")
            .agg(F.sum("area").alias("area"))
            .filter(F.col("area") > min_area)
        )
    a_cells = polygon_cells(a_polys, cell_size).select(
        F.col("id").alias("a_id"), F.col("vertices").alias("va"), "cell"
    )
    b_cells = polygon_cells(b_polys, cell_size).select(
        F.col("id").alias("b_id"), F.col("vertices").alias("vb"), "cell"
    )
    cand = a_cells.join(b_cells, "cell").select("a_id", "b_id", "va", "vb").distinct()

    from libpysal_spark.functions.clip2d import batch_clip_areas, rings_from_arrow

    def batches(it):
        # mapInPandas: clipping needs NO shuffle — each Arrow batch of
        # candidate pairs is clipped where it sits, the WHOLE batch in one
        # vectorized numpy Sutherland-Hodgman pass (VERDICT r4 #3)
        for pdf in it:
            if not len(pdf):
                continue
            areas = batch_clip_areas(
                rings_from_arrow(pdf["va"]), rings_from_arrow(pdf["vb"])
            )
            out = pd.DataFrame(
                {
                    "a_id": pdf["a_id"].to_numpy(),
                    "b_id": pdf["b_id"].to_numpy(),
                    "area": areas,
                }
            )
            yield out[out["area"] > min_area]

    return cand.mapInPandas(batches, "a_id long, b_id long, area double")
