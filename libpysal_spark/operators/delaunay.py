"""Delaunay triangulation graph — per-macro-cell numpy Bowyer-Watson.

Reference semantics: ``Delaunay`` weights (weights/gabriel.py:23-88,
graph/_triangulation.py:127-199) — the graph whose edges are the Delaunay
triangulation's edges. The reference calls scipy's Qhull; this environment
has no scipy, so the triangulation itself is a from-scratch Bowyer-Watson
(public algorithm, Bowyer 1981 / Watson 1981) vectorized with numpy inside
``applyInPandas``.

Distribution strategy (SURVEY §2.2): Delaunay is not cleanly partitionable —
an edge can connect distant points across empty space. Strategy:

- partition points into macro cells (grid), ship each cell its own points
  plus a HALO of ghost points from the surrounding ring;
- triangulate locally per cell (Arrow batch, pure numpy);
- keep a triangle iff its minimum vertex id is OWNED by the cell (each
  triangle emitted exactly once);
- CERTIFY per cell: a triangle counts only when its circumdisk (clipped to
  the global hull) needs fewer cells of context than the halo shipped
  (``need < halo`` in the cell UDF) — then no unshipped point can lie in
  it. Owned points with an uncertified triangle stay OPEN; their candidate
  triangles go through broadcast empty-disk witness rounds (verified
  against the full point table; refuting points are shipped back as
  witnesses), so every emitted triangle is globally Delaunay and the
  partitioned result is exact. With ``cells_per_side=1`` the one cell holds
  every point and all of its triangles are certified.

Edges are the three sides of every triangle; both directions are emitted in
the final graph, matching the reference's 6-directed-edges-per-simplex +
dedup (weights/gabriel.py:266-282).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from libpysal_spark.graph import Graph, resolve_isolates

# width of the "on the circumcircle" band shared by the local Bowyer-Watson
# incircle test and the broadcast empty-disk verification, as a fraction of
# the data scale (extent/coordinate magnitude). In DISTANCE units: a point
# within EPS_COCIRC*scale of the circle counts as cocircular — comfortably
# above circumcenter arithmetic noise (~1e-13*scale measured on a worst-case
# all-cocircular fixture), far below genuine point separations. The band must
# be absolute, NOT relative to r2: near-collinear hull triangles have giant
# circumradii, and an r2-relative band would classify points metres away from
# the circle as "cocircular". A small r2-relative term (1e-12) is kept for
# those giant disks, matching the pre-band refutation margin.
EPS_COCIRC = 1e-9
EPS_R2_REL = 1e-12


def _band_d2(r2, eps_abs):
    """Half-width of the cocircular band in d^2 units for circumradius^2 r2
    (numpy arrays): max(r2*EPS_R2_REL, 2*r*eps_abs)."""
    return np.maximum(
        r2 * EPS_R2_REL, 2.0 * np.sqrt(np.maximum(r2, 0.0)) * eps_abs
    )

_TWO_PI = 2.0 * np.pi


def _posmod_2pi(col: F.Column) -> F.Column:
    """Angle difference normalized into [0, 2*pi)."""
    return col - F.floor(col / _TWO_PI) * _TWO_PI


def _bowyer_watson_tris(
    ids: np.ndarray, xy: np.ndarray, eps_abs: float | None = None
) -> list[tuple[int, int, int]]:
    """Delaunay triangles as index triples into (ids, xy) via Bowyer-Watson.

    ``eps_abs`` is the absolute cocircular band half-width in distance units;
    the partitioned build passes the GLOBAL-scale value so every cell (and
    the broadcast verification) classifies borderline points identically —
    a cell-local default would disagree with the verification at the margin
    and livelock the witness loop."""
    n = len(ids)
    if n < 3:
        return []
    # deterministic insertion order: lexicographic by (x, y, id)
    order = np.lexsort((ids, xy[:, 1], xy[:, 0]))
    pts = xy[order]
    pids = ids[order]

    # super-triangle far outside the bbox
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    # data scale for the cocircular band: extent or coordinate magnitude,
    # whichever dominates the arithmetic noise
    if eps_abs is None:
        eps_abs = EPS_COCIRC * max(
            pts[:, 0].ptp(), pts[:, 1].ptp(), float(np.abs(pts).max()), 1.0
        )
    span = max(pts[:, 0].ptp(), pts[:, 1].ptp(), 1.0) * 1000.0
    sup = np.array(
        [[cx - 2 * span, cy - span], [cx + 2 * span, cy - span], [cx, cy + 2 * span]]
    )
    all_pts = np.vstack([pts, sup])
    s0, s1, s2 = n, n + 1, n + 2

    # triangles as an (m, 3) index array; circumcircles as an (m, 3) array of
    # (cx, cy, r2) — the bad-triangle test per insertion is ONE vectorized
    # boolean mask (VERDICT r2 #5: the per-triangle Python loop dominated
    # every macro-cell's applyInPandas task).
    tris = np.array([[s0, s1, s2]], dtype=np.int64)
    ccs = np.array([_circum(all_pts, s0, s1, s2)], dtype=np.float64)

    for pi in range(n):
        px, py = all_pts[pi]
        # inclusive incircle test with a noise-immune band (ADVICE r4 #2):
        # with the bare `<= r2`, exactly-cocircular points fall on either
        # side by ~1e-14 relative arithmetic noise, which (a) yields invalid
        # overlapping triangulations of cocircular sets (measured: 241 tris
        # for 40 points on a circle vs the 38 of a valid one) and (b) makes
        # the tie-break depend on the super-triangle, i.e. on WHICH subset
        # of points a macro cell holds. With the band, a cocircular set
        # always resolves to the fan from its lex-max (last-inserted) point
        # — canonical and subset-independent, which the broadcast empty-disk
        # verification mirrors exactly.
        d2 = (px - ccs[:, 0]) ** 2 + (py - ccs[:, 1]) ** 2
        bad_mask = d2 <= ccs[:, 2] + _band_d2(ccs[:, 2], eps_abs)
        bad = tris[bad_mask]
        # boundary of the cavity: edges appearing exactly once among bad tris
        # (the cavity is small — O(1) expected — so a dict is fine here)
        edge_count: dict[tuple[int, int], int] = {}
        for a, b, c in bad:
            for e in ((a, b), (b, c), (c, a)):
                k = (e[0], e[1]) if e[0] < e[1] else (e[1], e[0])
                edge_count[k] = edge_count.get(k, 0) + 1
        boundary = [e for e, cnt in edge_count.items() if cnt == 1]
        if not boundary:
            continue
        new_tris = np.array([[a, b, pi] for a, b in boundary], dtype=np.int64)
        new_ccs = _circum_batch(all_pts, new_tris)
        tris = np.vstack([tris[~bad_mask], new_tris])
        ccs = np.vstack([ccs[~bad_mask], new_ccs])

    # drop super-triangle triangles; map internal insertion indices back to
    # the ORIGINAL array positions so callers can fetch coordinates
    real = (tris < n).all(axis=1)
    return [
        (int(order[a]), int(order[b]), int(order[c])) for a, b, c in tris[real]
    ]


def _circum_batch(p: np.ndarray, tris: np.ndarray) -> np.ndarray:
    """(k, 3) array of (ccx, ccy, r2) for index triples ``tris`` into ``p``.

    Same arithmetic as :func:`_circum` (term-for-term, so results are
    bit-identical), vectorized over triangles; degenerate (collinear)
    triangles get r2 = -1 (empty circle)."""
    A, B, C = p[tris[:, 0]], p[tris[:, 1]], p[tris[:, 2]]
    ax, ay = A[:, 0], A[:, 1]
    bx, by = B[:, 0], B[:, 1]
    cx, cy = C[:, 0], C[:, 1]
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    with np.errstate(divide="ignore", invalid="ignore"):
        ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
              + (cx * cx + cy * cy) * (ay - by)) / d
        uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
              + (cx * cx + cy * cy) * (bx - ax)) / d
    r2 = (ax - ux) ** 2 + (ay - uy) ** 2
    bad = d == 0.0
    out = np.column_stack([ux, uy, r2])
    out[bad] = (0.0, 0.0, -1.0)
    return out


def _circum(p: np.ndarray, a: int, b: int, c: int) -> tuple[float, float, float]:
    ax, ay = p[a]
    bx, by = p[b]
    cx, cy = p[c]
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if d == 0.0:
        return (0.0, 0.0, -1.0)  # degenerate: empty circle
    ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
          + (cx * cx + cy * cy) * (ay - by)) / d
    uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
          + (cx * cx + cy * cy) * (bx - ax)) / d
    r2 = (ax - ux) ** 2 + (ay - uy) ** 2
    return (ux, uy, r2)


def _convex_hull(xy: np.ndarray) -> np.ndarray:
    """Indices of convex-hull points (Andrew monotone chain — public algo,
    mirror of the reference's Graham scan at cg/standalone.py:795-837)."""
    order = np.lexsort((xy[:, 1], xy[:, 0]))
    pts = xy[order]

    def half(rng):
        out = []
        for i in rng:
            while len(out) >= 2:
                o, a = pts[out[-2]], pts[out[-1]]
                if (a[0] - o[0]) * (pts[i][1] - o[1]) - (a[1] - o[1]) * (pts[i][0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = half(range(len(pts)))
    upper = half(range(len(pts) - 1, -1, -1))
    idx = sorted(set(lower + upper))
    return order[idx]


def global_hull(points: DataFrame) -> tuple[list[int], list[tuple[float, float]]]:
    """(ids, coords) of the global convex hull: per-partition partial hulls
    (pandas UDF) unioned, final hull on the driver — a tree aggregate, output
    O(hull). r6: coords come back from the SAME collect as the ids, so
    callers no longer re-scan the table just to fetch hull coordinates."""
    import pyspark.sql.types as T

    def part_hull(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            xy = pdf[["x", "y"]].to_numpy(dtype=float)
            keep = _convex_hull(xy) if len(pdf) > 2 else np.arange(len(pdf))
            yield pdf.iloc[keep][["id", "x", "y"]]

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ])
    partial = points.select("id", "x", "y").mapInPandas(part_hull, schema).toPandas()
    if len(partial) > 2:
        keep = _convex_hull(partial[["x", "y"]].to_numpy(dtype=float))
        partial = partial.iloc[keep]
    return (
        partial["id"].tolist(),
        [(float(x), float(y)) for x, y in partial[["x", "y"]].to_numpy(dtype=float)],
    )


def global_hull_ring(points: DataFrame) -> list[tuple[float, float]]:
    """Global convex hull as a CLOSED CCW coordinate ring.

    Distributed partial hulls + driver merge (same two-level scheme as
    :func:`global_hull`); the collected set is bounded by the hull size.
    Ordering: angular sort around the hull centroid (valid for any convex
    polygon)."""
    import math

    _ids, pts = global_hull(points)
    cx = sum(p[0] for p in pts) / len(pts)
    cy = sum(p[1] for p in pts) / len(pts)
    ring = sorted(pts, key=lambda p: math.atan2(p[1] - cy, p[0] - cx))
    return ring + ring[:1]


def _is_convex_ring(ring: list) -> bool:
    """True if the closed ring is convex (cross products single-signed)."""
    cl = ring[:-1] if ring[0] == ring[-1] else ring
    n = len(cl)
    if n < 3:
        return False
    sign = 0
    for i in range(n):
        a, bq, c = cl[i], cl[(i + 1) % n], cl[(i + 2) % n]
        cr = (bq[0] - a[0]) * (c[1] - bq[1]) - (bq[1] - a[1]) * (c[0] - bq[0])
        if cr != 0:
            s = 1 if cr > 0 else -1
            if sign and s != sign:
                return False
            sign = s
    return True


def _resolve_clip_ring(points: DataFrame, clip, box: list) -> list:
    """Resolve a clip spec to a convex closed ring.

    ``'extent'`` -> the bbox; ``'convex_hull'`` -> the global hull
    (reference cg/voronoi.py:389-436 clip modes); a coordinate list -> used
    directly after a convexity check (Sutherland–Hodgman requires a convex
    clip region; the reference's non-convex ``alpha_shape`` mode needs a
    general polygon clipper and stays out of scope, documented)."""
    if clip == "extent":
        return box
    if clip == "convex_hull":
        return global_hull_ring(points)
    ring = [(float(x), float(y)) for x, y in clip]
    if ring[0] != ring[-1]:
        ring = ring + ring[:1]
    if not _is_convex_ring(ring):
        raise NotImplementedError(
            "arbitrary clip polygons must be convex (Sutherland–Hodgman); "
            "non-convex clips (reference clip='alpha_shape') are out of scope"
        )
    return ring


def _disk_hull_extent(cc: np.ndarray, r2: np.ndarray, ring: np.ndarray):
    """Exact bbox of (disk ∩ convex hull) per disk, vectorized.

    cc: (m, 2) circumcenters; r2: (m,); ring: (K, 2) CCW OPEN hull ring.
    Returns (xmin, xmax, ymin, ymax, nonempty) arrays. The extreme of the
    intersection in any axis direction is attained at a disk axis-extreme
    point (if inside the hull), a hull vertex (if inside the disk), or a
    circle/hull-edge crossing — the complete candidate set below.

    Clipping the circumdisk to the HULL (not the bbox) is what makes the
    halo certificate usable at scale: a boundary triangle's empty disk
    bulges into the point-free region outside the hull but inside the bbox;
    bbox-clipping counted that region as 'required context' and escalated
    the halo globally (the r3 ADVICE finding, reproduced at 100k points in
    the r4 scale rehearsal). Points only exist inside the hull, so the hull
    clip is exactly as sound and far tighter.
    """
    m = len(r2)
    K = len(ring)
    r = np.sqrt(np.maximum(r2, 0.0))
    A = ring
    B = np.roll(ring, -1, axis=0)
    E = B - A  # (K,2)

    cands_x: list[np.ndarray] = []
    cands_y: list[np.ndarray] = []
    valids: list[np.ndarray] = []

    def inside_hull(px, py):
        # (m, n) points vs all K edges: cross(E_k, p - A_k) >= -eps
        cr = (
            E[None, None, :, 0] * (py[..., None] - A[None, None, :, 1])
            - E[None, None, :, 1] * (px[..., None] - A[None, None, :, 0])
        )
        return (cr >= -1e-9).all(axis=-1)

    # disk axis extremes: (m, 4)
    ex = np.stack([cc[:, 0] + r, cc[:, 0] - r, cc[:, 0], cc[:, 0]], axis=1)
    ey = np.stack([cc[:, 1], cc[:, 1], cc[:, 1] + r, cc[:, 1] - r], axis=1)
    cands_x.append(ex)
    cands_y.append(ey)
    valids.append(inside_hull(ex, ey))

    # hull vertices inside disk: (m, K)
    vx = np.broadcast_to(ring[None, :, 0], (m, K))
    vy = np.broadcast_to(ring[None, :, 1], (m, K))
    d2 = (vx - cc[:, [0]]) ** 2 + (vy - cc[:, [1]]) ** 2
    cands_x.append(vx)
    cands_y.append(vy)
    valids.append(d2 <= r2[:, None] + 1e-9)

    # circle x edge crossings: solve |A + tE - c|^2 = r^2 per (m, K)
    a = (E * E).sum(1)[None, :]  # (1, K)
    AmC_x = A[None, :, 0] - cc[:, [0]]
    AmC_y = A[None, :, 1] - cc[:, [1]]
    b = 2.0 * (E[None, :, 0] * AmC_x + E[None, :, 1] * AmC_y)
    c0 = AmC_x**2 + AmC_y**2 - r2[:, None]
    disc = b * b - 4.0 * a * c0
    ok = (disc >= 0) & (a > 0)
    sq = np.sqrt(np.where(ok, disc, 0.0))
    for sgn in (-1.0, 1.0):
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (-b + sgn * sq) / (2.0 * a)
        tv = ok & (t >= -1e-12) & (t <= 1.0 + 1e-12)
        px = A[None, :, 0] + t * E[None, :, 0]
        py = A[None, :, 1] + t * E[None, :, 1]
        cands_x.append(px)
        cands_y.append(py)
        valids.append(tv)

    X = np.concatenate(cands_x, axis=1)
    Y = np.concatenate(cands_y, axis=1)
    V = np.concatenate(valids, axis=1)
    nonempty = V.any(axis=1)
    big = 1e30
    xmin = np.where(V, X, big).min(axis=1)
    xmax = np.where(V, X, -big).max(axis=1)
    ymin = np.where(V, Y, big).min(axis=1)
    ymax = np.where(V, Y, -big).max(axis=1)
    return xmin, xmax, ymin, ymax, nonempty


CELL_SCHEMA = (
    "kind int, cell long, a long, b long, c long, ax double, ay double, "
    "bx double, by double, cx double, cy double, ccx double, ccy double, r2 double"
)

_TRI_COLS = ["a", "b", "c", "ax", "ay", "bx", "by", "cx", "cy", "ccx", "ccy", "r2"]


def _grid_eps_abs(grid) -> float:
    """GLOBAL-scale cocircular band half-width of the grid's extent — the one
    value the per-cell builds and the broadcast verification share."""
    x0, x1, y0, y1 = grid[:4]
    return EPS_COCIRC * max(x1 - x0, y1 - y0, abs(x0), abs(x1), abs(y0), abs(y1), 1.0)


def _make_cell_tri_udf(grid, cells_per_side, halo, hull_ring):
    """Per-cell triangulate + certify + emit: the one body of every build.

    Emits (kind=0) triangles whose min vertex is OWNED and OPEN and whose
    hull-clipped circumdisk needs < halo cells of context (provably globally
    Delaunay — every point that could invalidate it was shipped), plus
    (kind=1) rows naming owned open points that remain OPEN (incident to an
    uncertified triangle) for the next round, and (kind=2) those uncertified
    candidate triangles for the broadcast empty-disk verification.

    ``grid`` is ``(x0, x1, y0, y1, sx, sy)``. With ``cells_per_side == 1``
    the one cell is the whole extent and holds every point, so every
    triangle is certified: ``grid``, ``halo`` and ``hull_ring`` are unused
    and the cocircular band takes the cell's own scale, which for the full
    point set equals :func:`_grid_eps_abs`.
    """
    single = cells_per_side == 1
    if not single:
        x0, x1, y0, y1, sx, sy = grid
        ring = np.asarray(hull_ring, dtype=float)
    eps_abs = None if single else _grid_eps_abs(grid)

    def udf(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        xy = pdf[["x", "y"]].to_numpy(dtype=float)
        owned = set(pdf.loc[pdf["own"], "id"].tolist())
        open_ = set(pdf.loc[pdf["own"] & pdf["__open"], "id"].tolist())
        cell = int(pdf["cell"].iloc[0])
        tris = np.array(_bowyer_watson_tris(ids, xy, eps_abs), dtype=np.int64)
        if len(tris) == 0:
            rows = [(1, cell, int(p), 0, 0) + (0.0,) * 9 for p in sorted(open_)]
            return pd.DataFrame(rows, columns=["kind", "cell"] + _TRI_COLS)
        tids = ids[tris]  # (m, 3)
        # restrict to triangles incident to >= 1 owned vertex
        own_mask = np.isin(tids, list(owned)).any(axis=1)
        tris, tids = tris[own_mask], tids[own_mask]
        # canonical vertex order (sorted by id) BEFORE the circumcircle: the
        # circumcenter formula is not permutation-invariant at the last bit,
        # so the same triangle emitted from two cells/rounds must compute
        # (ccx, ccy, r2) from the identical vertex order or the final
        # key-dedup leaves float-twin duplicate rows (ADVICE r4 #1)
        vord = np.argsort(tids, axis=1, kind="stable")
        tids = np.take_along_axis(tids, vord, axis=1)
        tris = np.take_along_axis(tris, vord, axis=1)
        cco = _circum_batch(xy, tris)
        cc, r2 = cco[:, :2], cco[:, 2]

        if single:
            certified = np.ones(len(tris), dtype=bool)
        else:
            # the halo (in cells, fractional) each circumdisk REQUIRES of
            # this cell: a disk whose hull-clipped extent lies strictly
            # inside the shipped cell+halo rectangle is empty of ALL global
            # points (every point there was shipped), so its triangle is
            # globally Delaunay; a missing true triangle forces a locally-
            # but-not-globally Delaunay replacement whose disk reaches an
            # unshipped point, i.e. needs >= halo. Conservative: the disk's
            # bounding box.
            xmin, xmax, ymin, ymax, nonempty = _disk_hull_extent(cc, r2, ring)
            cxi = cell // cells_per_side
            cyi = cell % cells_per_side
            nx = np.maximum(
                (x0 + cxi * sx - np.maximum(xmin, x0)) / sx,
                (np.minimum(xmax, x1) - x0 - (cxi + 1) * sx) / sx,
            )
            ny = np.maximum(
                (y0 + cyi * sy - np.maximum(ymin, y0)) / sy,
                (np.minimum(ymax, y1) - y0 - (cyi + 1) * sy) / sy,
            )
            need = np.where(nonempty, np.maximum(np.maximum(nx, ny), 0.0), 0.0)
            certified = need < (halo - 1e-9)

        min_ids = tids.min(axis=1)
        emit = (
            certified
            & np.isin(min_ids, list(owned) or [-1])
            & np.isin(min_ids, list(open_) or [-1])
        )

        def tri_row(kind, t):
            # tids/tris are already in canonical (id-sorted) order
            a, b, c = tids[t]
            pa, pb, pc = tris[t]
            return (
                kind, cell, int(a), int(b), int(c),
                xy[pa][0], xy[pa][1], xy[pb][0], xy[pb][1], xy[pc][0], xy[pc][1],
                float(cc[t][0]), float(cc[t][1]), float(r2[t]),
            )

        rows = [tri_row(0, t) for t in np.nonzero(emit)[0]]
        # owned open points incident to any UNcertified triangle stay open;
        # those uncertified CANDIDATE triangles are exported (kind=2) for
        # the broadcast empty-disk verification phase
        open_list = list(open_) or [-1]
        uncert_open = ~certified & np.isin(tids, open_list).any(axis=1)
        bad = tids[~certified].ravel()
        still_open = sorted(open_.intersection(bad.tolist()))
        for p in still_open:
            rows.append((1, cell, int(p), 0, 0) + (0.0,) * 9)
        rows.extend(tri_row(2, t) for t in np.nonzero(uncert_open)[0])
        return pd.DataFrame(rows, columns=["kind", "cell"] + _TRI_COLS)

    return udf


def _single_cell_triangles(points: DataFrame) -> DataFrame:
    """Exact triangles from ONE task holding every point: the
    ``cells_per_side=1`` build and the ``ghost_cap`` fallback."""
    tagged = points.select(
        "id", "x", "y",
        F.lit(0).alias("cell"), F.lit(True).alias("own"), F.lit(True).alias("__open"),
    )
    return (
        tagged.groupBy("cell")
        .applyInPandas(_make_cell_tri_udf(None, 1, 0, None), CELL_SCHEMA)
        .filter(F.col("kind") == 0)
        .select(*_TRI_COLS)
    )


def delaunay(points: DataFrame, cells_per_side: int = 1) -> Graph:
    """Delaunay graph: the three edges of every :func:`delaunay_triangles`
    row, both directions. ``cells_per_side=1`` is the exact single-cell
    build; for >1 the partitioned build certifies every emitted triangle
    (see :func:`delaunay_triangles`), so the result is exact either way.

    n == 2 has one Delaunay edge and no triangle: a lazy ``count == 2``
    aggregate adds it to the plan. An all-collinear input has no triangles
    and gives isolates only (the reference's scipy Qhull errors on it).
    """
    tris = delaunay_triangles(points, cells_per_side)
    und = tris.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("focal"), F.col("b").alias("neighbor")),
                F.struct(F.col("b").alias("focal"), F.col("c").alias("neighbor")),
                F.struct(F.col("a").alias("focal"), F.col("c").alias("neighbor")),
            )
        ).alias("e")
    ).select("e.focal", "e.neighbor")
    pair = (
        points.agg(
            F.count("*").alias("__n"),
            F.min("id").alias("focal"),
            F.max("id").alias("neighbor"),
        )
        .filter(F.col("__n") == 2)
        .select("focal", "neighbor")
    )
    und = und.unionByName(pair)
    edges = (
        und.unionByName(
            und.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return Graph(resolve_isolates(edges, points.select("id")))


def _tag_cells(
    points: DataFrame,
    cells_per_side: int,
    halo_cells: int,
    grid: tuple,
    ghost_pts: DataFrame,
) -> DataFrame:
    """(id, x, y, cell, own) — macro-cell assignment with halo + ghosts.

    ``ghost_pts`` (the global hull) is shipped to every cell; it comes from
    the full table because ``points`` may be a filtered subset (the
    straggler rounds)."""
    x0, _, y0, _, sx, sy = grid
    pts = points.select("id", "x", "y")
    cxe = F.least(F.floor((F.col("x") - x0) / sx), F.lit(cells_per_side - 1))
    cye = F.least(F.floor((F.col("y") - y0) / sy), F.lit(cells_per_side - 1))
    home = pts.withColumn("cx", cxe).withColumn("cy", cye)
    offs = F.expr(
        f"flatten(transform(sequence(-{halo_cells}, {halo_cells}), dx -> "
        f"transform(sequence(-{halo_cells}, {halo_cells}), dy -> struct(dx, dy))))"
    )
    tagged = (
        home.withColumn("__o", F.explode(offs))
        .withColumn("tcx", F.col("cx") + F.col("__o.dx"))
        .withColumn("tcy", F.col("cy") + F.col("__o.dy"))
        .filter(
            (F.col("tcx") >= 0) & (F.col("tcx") < cells_per_side)
            & (F.col("tcy") >= 0) & (F.col("tcy") < cells_per_side)
        )
        .withColumn("cell", F.col("tcx") * cells_per_side + F.col("tcy"))
        .withColumn("own", (F.col("__o.dx") == 0) & (F.col("__o.dy") == 0))
        .select("id", "x", "y", "cell", "own")
    )
    # global hull points as ghosts in every cell (repairs hull-spanning
    # edges); tiny list -> broadcast cross join
    hull_pts = F.broadcast(ghost_pts.select("id", "x", "y"))
    all_cells = points.sparkSession.range(cells_per_side * cells_per_side).select(
        F.col("id").alias("cell")
    )
    ghosts = hull_pts.crossJoin(all_cells).withColumn("own", F.lit(False))
    return (
        tagged.unionByName(ghosts.select("id", "x", "y", "cell", "own"))
        .groupBy("id", "cell")
        .agg(
            F.first("x").alias("x"),
            F.first("y").alias("y"),
            F.max("own").alias("own"),
        )
    )


#: Diagnostics of the most recent :func:`delaunay_triangles` build —
#: ``{"mode", "halo", "retries", "hull_size", "full_replication"}``.
#: Exposed so callers can DETECT when a partitioned build escalated to
#: full per-cell replication instead of silently paying it (ADVICE r3).
last_build_info: dict = {}

#: Above this many global-hull points, the ghost broadcast (|hull| × cells
#: rows) is declared pathological — adversarial convex-position inputs make
#: it O(n·cells) — and the build falls back to the single-cell exact path.
GHOST_CAP = 4096


def delaunay_triangles(
    points: DataFrame,
    cells_per_side: int = 1,
    ghost_cap: int = GHOST_CAP,
) -> DataFrame:
    """Delaunay triangles with vertex coordinates + circumcircle.

    Columns: (a, b, c) vertex ids sorted ascending, their coordinates, the
    circumcenter (ccx, ccy) and squared circumradius r2 — one row per
    triangle. Feeds alpha shapes (reference cg/alpha_shapes.py:385-580:
    circumradius filtration) and Voronoi clipping (duals of these triangles).

    ``cells_per_side=1`` triangulates every point in one task. For >1 the
    points are gridded and each round triangulates the cells that own an
    OPEN point from their own, halo and global-hull-ghost points. The cell
    UDF certifies a triangle when its hull-clipped circumdisk needs fewer
    cells of context than the halo (``need < halo``); certified triangles
    are emitted by the cell owning their min vertex, and an owned point
    closes once all its incident triangles certify. The uncertified
    candidates then go through broadcast empty-disk witness rounds: an
    empty disk is emitted as is, a refuted one ships its nearest refuting
    points to the cell as witnesses and the cell re-triangulates. Above
    ``WITNESS_OPEN_CAP`` open points, or after ``MAX_WITNESS_ROUNDS``, the
    halo widens instead, up to ``halo == cells_per_side`` (every cell ships
    the full grid). Every emitted triangle is verified, so the result is
    exact.
    """
    global last_build_info
    if cells_per_side == 1:
        last_build_info = {
            "mode": "single-cell", "halo": 0, "retries": 0,
            "hull_size": None, "full_replication": True,
        }
        return _single_cell_triangles(points)

    import math
    import warnings

    pts = points.select("id", "x", "y")
    hull_ids, hpts = global_hull(pts)
    if len(hull_ids) > ghost_cap:
        # adversarial convex-position input: |hull| ~ n, so the ghost
        # broadcast would ship O(n·cells) rows AND the halo certificate's
        # blind spot (owned points on the local hull) would force full
        # replication anyway — the exact single-cell build is strictly
        # cheaper. Loud, never silent.
        warnings.warn(
            f"global hull has {len(hull_ids)} points > ghost_cap={ghost_cap}; "
            "partitioned Delaunay falling back to the single-cell exact build "
            "(convex-position-heavy input is not cell-decomposable)"
        )
        last_build_info = {
            "mode": "single-cell-hull-fallback", "halo": 0, "retries": 0,
            "hull_size": len(hull_ids), "full_replication": True,
        }
        return _single_cell_triangles(pts)

    # r6: the grid bounds ARE the hull's extremes (every min/max-coordinate
    # point lies on the convex hull), and the hull coords came back with the
    # hull ids — two whole-table jobs (the bounds agg and the hull-coord
    # re-collect) replaced by driver arithmetic on the O(hull) list.
    hx = [p[0] for p in hpts]
    hy = [p[1] for p in hpts]
    x0, x1, y0, y1 = min(hx), max(hx), min(hy), max(hy)
    sx = (x1 - x0) / cells_per_side or 1.0
    sy = (y1 - y0) / cells_per_side or 1.0
    grid = (x0, x1, y0, y1, sx, sy)
    hcx = sum(p[0] for p in hpts) / len(hpts)
    hcy = sum(p[1] for p in hpts) / len(hpts)
    hull_ring = sorted(hpts, key=lambda p: math.atan2(p[1] - hcy, p[0] - hcx))

    # v2 build (r4): per-POINT certification with per-round open-set
    # shrinkage, instead of the r3 global whole-build retry. Each round:
    # cells that still OWN an open point triangulate own+halo+hull-ghosts;
    # a triangle is emitted iff its min vertex is owned AND open AND its
    # hull-clipped circumdisk fits strictly inside the shipped context
    # (then no unshipped point can invalidate it -> globally Delaunay, so
    # FALSE triangles are never emitted); a point closes when every
    # incident local triangle certifies (then its local star IS the true
    # star: the certified star tiles the point's neighborhood with globally
    # Delaunay triangles, and the Delaunay triangulation is unique), and
    # every true triangle is emitted in its min vertex's closing round.
    # Hull-ghost artifact triangles (giant disks over unshipped interior)
    # fail certification and keep only their local owners open — the halo
    # doubles for THOSE cells' next round, not for the whole build. The r3
    # design escalated the global halo on any violation, which the 100k
    # rehearsal showed degrades to full replication at scale.
    emitted = []
    open_df = pts.select("id")
    halo = 1
    rounds = 0
    open_trace = []
    home_cx = F.least(F.floor((F.col("x") - x0) / sx), F.lit(cells_per_side - 1))
    home_cy = F.least(F.floor((F.col("y") - y0) / sy), F.lit(cells_per_side - 1))
    home_cell = home_cx * cells_per_side + home_cy
    cps = cells_per_side
    ghost_src = pts.filter(F.col("id").isin(hull_ids))
    witnesses = None  # (cell, id, x, y) extra context for straggler cells
    witness_rounds = 0

    def open_info(open_local) -> tuple:
        """(n_open, home-cell set) of the open points — ONE small job that
        also materializes ``open_local``'s lazy checkpoint (r6: the witness
        loop uses this collect for both the open-count and build_round's
        active-cell set, fusing two driver-synchronous jobs per round; the
        open set is bounded by WITNESS_OPEN_CAP)."""
        rows = (
            pts.join(open_local, "id", "left_semi")
            .select("id", home_cell.alias("c"))
            .collect()
        )
        return len(rows), {r.c for r in rows}

    def build_round(open_local, halo_local, first, act=None):
        """One distributed per-cell pass; returns the checkpointed output."""
        if first:
            pts_sub = pts
            active_set = None
        else:
            if act is None:
                act = open_info(open_local)[1]
            ship = set()
            for c in act:
                cx_, cy_ = c // cps, c % cps
                for dx in range(-halo_local, halo_local + 1):
                    for dy in range(-halo_local, halo_local + 1):
                        tx, ty = cx_ + dx, cy_ + dy
                        if 0 <= tx < cps and 0 <= ty < cps:
                            ship.add(tx * cps + ty)
            pts_sub = pts.filter(home_cell.isin([int(c) for c in ship]))
            active_set = [int(c) for c in act]
        tagged = _tag_cells(pts_sub, cps, halo_local, grid, ghost_src)
        if witnesses is not None:
            tagged = tagged.unionByName(
                witnesses.select(
                    "id", "x", "y", "cell",
                    F.lit(False).alias("own"),
                )
            ).groupBy("id", "cell").agg(
                F.first("x").alias("x"), F.first("y").alias("y"),
                F.max("own").alias("own"),
            )
        if first:
            # round 1: EVERY point is open and every cell active — the open
            # join and the active-cell semi-join are identity ops; skip both
            # (r6: two joins out of the hottest round's plan)
            tg = tagged.withColumn("__open", F.lit(True))
        else:
            tg = (
                tagged.join(open_local.withColumn("__open", F.lit(True)), "id", "left")
                .withColumn("__open", F.coalesce(F.col("__open"), F.lit(False)))
            )
            if active_set is None:
                active = (
                    tg.filter(F.col("own") & F.col("__open")).select("cell").distinct()
                )
                tg = tg.join(active, "cell", "left_semi")
            else:
                tg = tg.filter(F.col("cell").isin(active_set))
        udf = _make_cell_tri_udf(grid, cps, halo_local, hull_ring)
        # One task per cell: the per-cell triangulation is bytes-light but
        # compute-heavy, and AQE (which coalesces by bytes) leaves a
        # repartition with an explicit partition count alone, so the
        # grouping reuses it. LAZY checkpoint (r6): the next action — the
        # open-count in the verify loop — materializes the per-cell pass in
        # the SAME job; eager cost one extra driver-synchronous job per
        # round. All later consumers (cands filter, emitted union) read the
        # same stored blocks.
        return (
            tg.repartition(cps * cps, "cell")
            .groupBy("cell")
            .applyInPandas(udf, CELL_SCHEMA)
            .localCheckpoint(eager=False)
        )

    # above this many open points the witness candidate set would be too
    # big to broadcast — fall back to one wider grid round first
    WITNESS_OPEN_CAP = 20_000
    # ---- phase 1: grid round(s) at the initial halo ----------------
    while True:
        rounds += 1
        out = build_round(open_df, halo, rounds == 1)
        emitted.append(out.filter(F.col("kind") == 0).select(*_TRI_COLS))
        open_df = out.filter(F.col("kind") == 1).select(F.col("a").alias("id"))
        n_open = open_df.count()
        open_trace.append(n_open)
        if n_open == 0 or halo >= cps:
            break
        if n_open <= WITNESS_OPEN_CAP:
            break  # hand the stragglers to the witness phase
        halo = min(cps, halo * 2)

    # ---- phase 2: broadcast empty-disk verification + witnesses ----
    # The remaining open points are hull-adjacent stars whose candidate
    # triangles have big circumdisks (r3's design here doubled the halo
    # until whole cells shipped everything). Instead: the UNCERTIFIED
    # candidate triangles (kind=2, a small set) are verified DIRECTLY —
    # broadcast them against the full point table and test circumdisk
    # emptiness. Empty -> globally Delaunay -> emit, no shipping at
    # all. Non-empty -> the refuting points ARE the missing context:
    # the nearest ones are shipped to the cell as witnesses and the
    # cell re-triangulates. Each refuted candidate's disk gains a
    # shipped witness, so it cannot reappear; the local star converges
    # to the true star. Cost per round: one scan of the point table
    # against a broadcast candidate list with a bbox prefilter.
    MAX_WITNESS_ROUNDS = 12
    WITNESSES_PER_CAND = 64
    while open_trace[-1] > 0 and halo < cps:
        if witness_rounds >= MAX_WITNESS_ROUNDS:
            # loud fallback, never silent: full-context pass for the
            # leftover cells (exact by construction)
            warnings.warn(
                f"partitioned Delaunay: {open_trace[-1]} points still "
                f"open after {witness_rounds} witness rounds — final "
                "full-halo pass for their cells"
            )
            halo = cps
            rounds += 1
            out = build_round(open_df, halo, False)
            emitted.append(out.filter(F.col("kind") == 0).select(*_TRI_COLS))
            open_trace.append(0)
            break
        cands = out.filter(F.col("kind") == 2).select("cell", *_TRI_COLS).distinct()
        r_col = F.sqrt(F.greatest(F.col("r2"), F.lit(0.0)))
        # Cocircular tie-break, mirroring the local build exactly (ADVICE
        # r4 #2). With the EPS_COCIRC band, the local Bowyer-Watson
        # resolves any cocircular set S to the fan from S's lex-max
        # (x, y, id) point, so a candidate T=(m,u,v) (m = lex-max vertex)
        # is globally canonical iff (a) no point is strictly inside its
        # disk, (b) no ON-circle point is lex-greater than m (else the
        # true fan apexes there), and (c) no ON-circle point lies on the
        # open arc between u and v that avoids m (else u,v are not
        # angularly adjacent in S and T is not a fan triangle). The
        # refutation filter is the complement of (a)&(b)&(c).
        vmax = F.greatest(
            F.struct(F.col("ax").alias("lx"), F.col("ay").alias("ly"),
                     F.col("a").alias("li")),
            F.struct(F.col("bx").alias("lx"), F.col("by").alias("ly"),
                     F.col("b").alias("li")),
            F.struct(F.col("cx").alias("lx"), F.col("cy").alias("ly"),
                     F.col("c").alias("li")),
        )
        tha = F.atan2(F.col("ay") - F.col("ccy"), F.col("ax") - F.col("ccx"))
        thb = F.atan2(F.col("by") - F.col("ccy"), F.col("bx") - F.col("ccx"))
        thc = F.atan2(F.col("cy") - F.col("ccy"), F.col("cx") - F.col("ccx"))
        is_max_a = (F.col("__vmax.li") == F.col("a"))
        is_max_b = (F.col("__vmax.li") == F.col("b"))
        thm = F.when(is_max_a, tha).when(is_max_b, thb).otherwise(thc)
        thu = F.when(is_max_a, thb).otherwise(tha)
        thv = F.when(is_max_a | is_max_b, thc).otherwise(thb)
        cb = F.broadcast(
            cands.withColumn("__vmax", vmax)
            .withColumn("__thu", thu)
            .withColumn("__dv", _posmod_2pi(thv - F.col("__thu")))
            .withColumn("__dm", _posmod_2pi(thm - F.col("__thu")))
            .select(
                "cell", "a", "b", "c", "ccx", "ccy", "r2",
                "__vmax", "__thu", "__dv", "__dm",
                (F.col("ccx") - r_col).alias("__bx0"),
                (F.col("ccx") + r_col).alias("__bx1"),
                (F.col("ccy") - r_col).alias("__by0"),
                (F.col("ccy") + r_col).alias("__by1"),
            )
        )
        # cocircular band in d^2 units, matching the local build's
        # _band_d2 (absolute-distance component + giant-disk relative
        # component); the global data scale mirrors the per-cell one
        g_eps_abs = _grid_eps_abs(grid)
        band = F.greatest(
            F.col("r2") * EPS_R2_REL,
            2.0 * F.sqrt(F.greatest(F.col("r2"), F.lit(0.0)))
            * F.lit(g_eps_abs),
        )
        strict_in = F.col("__d2") < F.col("r2") - band
        on_circle = (~strict_in) & (F.col("__d2") <= F.col("r2") + band)
        q_lex = F.struct(
            F.col("x").alias("lx"), F.col("y").alias("ly"),
            F.col("id").alias("li"),
        )
        dq = _posmod_2pi(
            F.atan2(F.col("y") - F.col("ccy"), F.col("x") - F.col("ccx"))
            - F.col("__thu")
        )
        arc_hit = (
            (F.col("__dm") > F.col("__dv"))
            & (dq > 0) & (dq < F.col("__dv"))
        ) | (
            (F.col("__dm") < F.col("__dv")) & (dq > F.col("__dv"))
        )
        hits = (
            pts.join(
                cb,
                (F.col("x") >= F.col("__bx0")) & (F.col("x") <= F.col("__bx1"))
                & (F.col("y") >= F.col("__by0")) & (F.col("y") <= F.col("__by1")),
            )
            .filter(
                (F.col("id") != F.col("a")) & (F.col("id") != F.col("b"))
                & (F.col("id") != F.col("c"))
            )
            .withColumn(
                "__d2",
                (F.col("x") - F.col("ccx")) ** 2 + (F.col("y") - F.col("ccy")) ** 2,
            )
            .filter(
                strict_in
                | (on_circle & ((q_lex > F.col("__vmax")) | arc_hit))
            )
            .localCheckpoint(eager=False)
        )
        refuted = hits.select("cell", "a", "b", "c").distinct()
        verified = cands.join(refuted, ["cell", "a", "b", "c"], "left_anti")
        emitted.append(verified.select(*_TRI_COLS))
        # open points whose every candidate verified -> closed
        ref_ids = (
            refuted.select(F.explode(F.array("a", "b", "c")).alias("id")).distinct()
        )
        # lazy checkpoint: the fused open_info collect below materializes
        # it in the same job AND returns the active-cell set the
        # build_round at the loop bottom needs (r6: one driver job where
        # count + a separate semi-join collect used to run)
        open_df = open_df.join(ref_ids, "id", "left_semi").localCheckpoint(
            eager=False
        )
        n_open, act_cells = open_info(open_df)
        open_trace.append(n_open)
        witness_rounds += 1
        if n_open == 0:
            break
        wnd = Window.partitionBy("cell", "a", "b", "c").orderBy("__d2", "id")
        new_w = (
            hits.withColumn("__rk", F.row_number().over(wnd))
            .filter(F.col("__rk") <= WITNESSES_PER_CAND)
            .select("cell", "id", "x", "y")
            .distinct()
        )
        witnesses = (
            new_w if witnesses is None
            else witnesses.unionByName(new_w).distinct()
        ).localCheckpoint(eager=False)
        rounds += 1
        out = build_round(open_df, halo, False, act=act_cells)
        emitted.append(out.filter(F.col("kind") == 0).select(*_TRI_COLS))
        open_df = out.filter(F.col("kind") == 1).select(F.col("a").alias("id"))
    full = halo >= cps
    last_build_info = {
        "mode": "partitioned", "halo": halo, "retries": rounds - 1,
        "rounds": rounds, "witness_rounds": witness_rounds,
        "open_trace": open_trace,
        "hull_size": len(hull_ids), "full_replication": full,
    }
    tris = emitted[0]
    for e in emitted[1:]:
        tris = tris.unionByName(e)
    # dedup by the (a, b, c) KEY, not distinct() over float columns: the
    # canonical-order circumcircle makes re-emissions bit-identical, and the
    # key groupBy guarantees one row per triangle even if a float column ever
    # diverged at the last bit (ADVICE r4 #1) — same single shuffle as
    # distinct()
    return tris.groupBy("a", "b", "c").agg(
        *[F.first(c).alias(c) for c in _TRI_COLS if c not in ("a", "b", "c")]
    )


def alpha_shape_triangles(points: DataFrame, alpha: float, cells_per_side: int = 1) -> DataFrame:
    """Delaunay triangles with circumradius < 1/alpha.

    Reference: cg/alpha_shapes.py:385-460 ``alpha_shape`` — the alpha complex
    is the circumradius filtration of the Delaunay triangulation. A pure
    filter over the distributed triangle table.
    """
    limit = (1.0 / float(alpha)) ** 2
    return delaunay_triangles(points, cells_per_side).filter(F.col("r2") < F.lit(limit))


def alpha_shape_edges(points: DataFrame, alpha: float, cells_per_side: int = 1) -> DataFrame:
    """Boundary edges of the alpha shape: edges of exactly ONE kept triangle.

    Returns (focal, neighbor) with focal < neighbor. Reference:
    cg/alpha_shapes.py:462-580 (boundary extraction of the alpha complex —
    the reference unions triangle polygons; the boundary of that union is
    precisely the once-used edge set).
    """
    tris = alpha_shape_triangles(points, alpha, cells_per_side)
    e = tris.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("focal"), F.col("b").alias("neighbor")),
                F.struct(F.col("b").alias("focal"), F.col("c").alias("neighbor")),
                F.struct(F.col("a").alias("focal"), F.col("c").alias("neighbor")),
            )
        ).alias("e")
    ).select("e.focal", "e.neighbor")
    return (
        e.groupBy("focal", "neighbor")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") == 1)
        .select("focal", "neighbor")
    )


def _n_components_of_edges(edges: DataFrame) -> int:
    """Connected-component count of an undirected (focal, neighbor) edge set,
    via the engine's alternating-star machinery (Graph.component_labels)."""
    from libpysal_spark.graph import Graph

    g = Graph(edges.withColumn("weight", F.lit(1.0)))
    return g.component_labels().select("component").distinct().count()


def _alpha_auto_distributed(tris: DataFrame, n: int, n_cand: int = 33):
    """Scale path of :func:`alpha_shape_auto` (VERDICT r5 #3): NO O(#tris)
    collect. Candidate thresholds are a bounded geometric grid over
    [r_min, r_max] (the coarsened analog of the reference's stepped visit
    order — deterministic and cluster-size-invariant, unlike sampled
    quantiles); validity per candidate is evaluated DISTRIBUTED:

    - one pass computes each triangle/vertex/edge's first-inclusion level,
      giving per-candidate T/V/E (Euler) and coverage as three K-row
      histograms collected to the driver;
    - the single-polygon check (components == 1) runs the existing
      alternating-star component machinery on the kept edge set, evaluated
      descending from the loosest candidate until the reference's stop rule
      (first invalid) fires — only per-candidate VERDICTS reach the driver.
    """
    rcol = F.sqrt(F.greatest("r2", F.lit(0.0)))
    mm = tris.agg(F.min(rcol).alias("r0"), F.max(rcol).alias("r1")).first()
    r0, r1 = float(mm.r0), float(mm.r1)
    hi = r1 * (1.0 + 1e-9) + 1e-300  # loosest cut: keeps every triangle
    if r0 <= 0 or r0 == r1:
        cuts = [hi]
    else:
        lo = r0 * (1.0 + 1e-12)
        g = (hi / lo) ** (1.0 / (n_cand - 1))
        cuts = sorted({lo * g**i for i in range(n_cand)} | {hi})
    K = len(cuts)
    cut_arr = F.array(*[F.lit(float(c)) for c in cuts])
    # first level at which a triangle is kept: count of cuts <= r
    lv = tris.withColumn("__r", rcol).withColumn(
        "__lv", F.size(F.filter(cut_arr, lambda c: c <= F.col("__r")))
    )
    tri_h = {r["__lv"]: r["cnt"] for r in lv.groupBy("__lv").agg(F.count("*").alias("cnt")).collect()}
    vert_min = (
        lv.select(F.explode(F.array("a", "b", "c")).alias("v"), "__lv")
        .groupBy("v").agg(F.min("__lv").alias("m"))
    )
    vert_h = {r["m"]: r["cnt"] for r in vert_min.groupBy("m").agg(F.count("*").alias("cnt")).collect()}
    edge_min = (
        lv.select(
            F.explode(
                F.array(
                    F.struct(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("w")),
                    F.struct(F.least("b", "c").alias("u"), F.greatest("b", "c").alias("w")),
                    F.struct(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("w")),
                )
            ).alias("e"),
            "__lv",
        )
        .groupBy("e").agg(F.min("__lv").alias("m"))
        .localCheckpoint()
    )
    edge_h = {r["m"]: r["cnt"] for r in edge_min.groupBy("m").agg(F.count("*").alias("cnt")).collect()}

    def cum(h):
        tot, out = 0, []
        for i in range(K):
            tot += h.get(i, 0)
            out.append(tot)
        return out

    T, V, E = cum(tri_h), cum(vert_h), cum(edge_h)
    # contiguous cheap-valid prefix [lo_cheap .. K-1] is free (histograms);
    # the expensive single-polygon check (a distributed component run per
    # probe) is BINARY-SEARCHED inside it: O(log K) component runs instead
    # of one per candidate. If connectivity is non-contiguous inside the
    # cheap prefix (possible only when a disconnected complex ALSO has a
    # compensating hole, since Euler == 1 is already enforced), the search
    # still lands on a verified-valid candidate — the coarsening this scale
    # path documents.
    lo_cheap = K
    for i in range(K - 1, -1, -1):
        if (V[i] == n) and (V[i] - E[i] + T[i] == 1) and T[i] > 0:
            lo_cheap = i
        else:
            break

    def connected(i: int) -> bool:
        return (
            _n_components_of_edges(
                edge_min.filter(F.col("m") <= i).select(
                    F.col("e.u").alias("focal"), F.col("e.w").alias("neighbor")
                )
            )
            == 1
        )

    chosen_idx = K - 1  # loosest cut is the unconditional fallback
    if lo_cheap <= K - 1 and connected(K - 1):
        lo, hi = lo_cheap, K - 1  # hi verified valid; search tightest valid
        while lo < hi:
            mid = (lo + hi) // 2
            if connected(mid):
                hi = mid
            else:
                lo = mid + 1
        chosen_idx = hi
    c_star = cuts[chosen_idx]
    alpha = 1.0 / c_star
    kept = tris.filter(rcol < F.lit(c_star))
    return (alpha, c_star, kept)


def alpha_shape_auto(
    points: DataFrame, cells_per_side: int = 1, step: int = 1,
    max_driver_tris: int = 200_000,
):
    """Automatic alpha selection (Edelsbrunner et al. 1983, reference
    cg/alpha_shapes.py:440-580 ``alpha_shape_auto``).

    The reference ranks triangles by circumradius descending and tightens
    alpha stepwise until the alpha complex stops being ONE hole-free polygon
    containing every point; it returns the last valid alpha. Engine
    adaptation: the expensive geometry — the Delaunay triangulation and
    per-triangle circumradii — is computed DISTRIBUTED (the partitioned
    builder). Below ``max_driver_tris`` the selection scan runs on the
    driver over the O(#triangles) (a, b, c, r) rows (the reference's exact
    stepped semantics); above it, the r6 scale path
    (:func:`_alpha_auto_distributed`) evaluates a bounded candidate grid
    distributively and collects only per-candidate verdicts — no O(#tris)
    collect anywhere (VERDICT r5 #3). Validity is evaluated without any
    geometry library:

    - coverage: every point is a vertex of >= 1 kept triangle;
    - single polygon, no holes: edge-connected components == 1 AND the Euler
      characteristic V - E + T == 1 (c components, h holes give c - h, so
      both checks together pin c == 1, h == 0 — polygonize's single-polygon
      test in the reference fails on either).

    The keep rule replicates the reference bit-for-bit:
    ``alpha_i = 1/r_i - eps``; keep triangles with ``r < 1/alpha_i``.

    Known deviation: above ``max_driver_tris`` the alpha comes from a
    bounded geometric grid of candidate radii (33 cuts over [r_min, r_max]),
    not from the reference's stepped scan over every circumradius. The
    result is the tightest valid grid cut, so alpha, radius and the kept
    triangles may differ from the reference's. Below the cap they are the
    reference's.

    Returns ``(alpha, radius, kept_triangles)`` where ``kept_triangles`` is
    the filtered distributed triangle DataFrame.
    """
    eps = float(np.finfo(float).eps)
    tris = delaunay_triangles(points, cells_per_side).localCheckpoint()
    n_tris = tris.count()
    n = points.select("id").distinct().count()
    if n_tris == 0:
        return (float("inf"), 0.0, tris)
    if n_tris > max_driver_tris:
        # r6 scale path (VERDICT r5 #3): bounded candidate grid + distributed
        # validity — the driver sweep below would collect O(#tris) rows
        # (~30M at the 100x rehearsal's 15M points)
        return _alpha_auto_distributed(tris, n)
    rows = tris.select(
        "a", "b", "c", F.sqrt(F.greatest("r2", F.lit(0.0))).alias("r")
    ).collect()
    trs = sorted(((row.r, row.a, row.b, row.c) for row in rows))
    radii_desc = [t[0] for t in trs][::-1]
    # candidate thresholds in the reference's visit order (desc, stepped)
    cand_desc = [radii_desc[i] for i in range(0, len(radii_desc), step)]

    # ascending sweep: add triangles level by level, maintaining union-find
    # components, V/E/T counts and point coverage; record validity at each
    # candidate threshold
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comp = 0

    def union(x, y):
        nonlocal comp
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
            comp -= 1

    edge_owner: dict = {}
    verts: set = set()
    T = E = 0
    valid_at: dict = {}
    ptr = 0
    for thr_r in sorted(cand_desc):
        alpha = 1.0 / thr_r - eps if thr_r > 0 else float("inf")
        cut = 1.0 / alpha if alpha > 0 else float("inf")
        while ptr < len(trs) and trs[ptr][0] < cut:
            r, a, b, c = trs[ptr]
            ptr += 1
            key = (a, b, c)
            parent[key] = key
            comp += 1
            T += 1
            for u, v in ((a, b), (b, c), (a, c)):
                ek = (u, v) if u < v else (v, u)
                other = edge_owner.get(ek)
                if other is None:
                    edge_owner[ek] = key
                    E += 1
                else:
                    union(key, other)
            verts.update(key)
        V = len(verts)
        valid_at[thr_r] = (comp == 1) and (V - E + T == 1) and (len(verts) == n)

    # reference order: try candidates descending, stop at FIRST invalid,
    # return the previous (last valid); the loosest threshold is the
    # unconditional fallback
    chosen = cand_desc[0]
    for thr_r in cand_desc:
        if valid_at[thr_r]:
            chosen = thr_r
        else:
            break
    alpha = 1.0 / chosen - eps if chosen > 0 else float("inf")
    kept = tris.filter(
        F.sqrt(F.greatest("r2", F.lit(0.0))) < F.lit(1.0 / alpha)
    )
    return (alpha, chosen, kept)


def voronoi_alpha_clip_areas(
    points: DataFrame,
    alpha: float,
    cells_per_side: int = 1,
    n_tiles: int = 32,
) -> DataFrame:
    """(id, area) — area of each Voronoi cell clipped to the ALPHA SHAPE.

    Closes the last reference clip mode (cg/voronoi.py:411-436
    ``voronoi_frames(clip='alpha_shape')``) for the measures that feed
    weights/summaries. The alpha shape is non-convex, so a single
    Sutherland–Hodgman clip is out (see :func:`_resolve_clip_ring`) — but
    the alpha COMPLEX's triangles partition the shape exactly (a subset of
    the Delaunay triangles, which tile the hull without overlap), and each
    triangle IS convex:

        area(cell ∩ shape) = Σ_tri area(cell ∩ tri)

    so the non-convex clip decomposes into convex clips. Pairing is a
    bbox-tile equi-join (geometry bboxes exploded onto an n_tiles² grid —
    no cross join); pair areas run vectorized per Arrow batch; one groupBy
    sums per cell. Cells with zero clipped area are dropped (outside the
    shape), matching the reference's behavior of clipping cells away.
    """
    cells = voronoi_polygons(points, cells_per_side, clip="extent")
    tris = alpha_shape_triangles(points, alpha, cells_per_side)

    b = points.agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).first()
    tsx = (b.x1 - b.x0) / n_tiles or 1.0
    tsy = (b.y1 - b.y0) / n_tiles or 1.0

    def tile_ids(x0c, x1c, y0c, y1c):
        tx0 = F.greatest(F.floor((x0c - b.x0) / tsx), F.lit(0))
        tx1 = F.least(F.floor((x1c - b.x0) / tsx), F.lit(n_tiles - 1))
        ty0 = F.greatest(F.floor((y0c - b.y0) / tsy), F.lit(0))
        ty1 = F.least(F.floor((y1c - b.y0) / tsy), F.lit(n_tiles - 1))
        return F.explode(
            F.flatten(
                F.transform(
                    F.sequence(tx0, tx1),
                    lambda tx: F.transform(
                        F.sequence(ty0, ty1), lambda ty: tx * n_tiles + ty
                    ),
                )
            )
        )

    vx = F.transform("vertices", lambda v: v["x"])
    vy = F.transform("vertices", lambda v: v["y"])
    c_tiled = cells.select(
        "id", "vertices",
        tile_ids(
            F.array_min(vx), F.array_max(vx), F.array_min(vy), F.array_max(vy)
        ).alias("tile"),
    )
    t_tiled = tris.select(
        "a", "b", "c", "ax", "ay", "bx", "by", "cx", "cy",
        tile_ids(
            F.least("ax", "bx", "cx"), F.greatest("ax", "bx", "cx"),
            F.least("ay", "by", "cy"), F.greatest("ay", "by", "cy"),
        ).alias("tile"),
    )
    pairs = (
        c_tiled.join(t_tiled, "tile")
        .drop("tile")
        .distinct()  # a pair sharing several tiles clips once
    )

    from libpysal_spark.functions.clip2d import batch_clip_areas, rings_from_arrow

    def area_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            # clip triangles come from 6 scalar columns — build the (B, 3, 2)
            # clip array without touching per-row Python
            tris_arr = np.stack(
                [
                    pdf[["ax", "ay"]].to_numpy(dtype=float),
                    pdf[["bx", "by"]].to_numpy(dtype=float),
                    pdf[["cx", "cy"]].to_numpy(dtype=float),
                ],
                axis=1,
            )
            areas = batch_clip_areas(
                rings_from_arrow(pdf["vertices"]), list(tris_arr)
            )
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "__a": areas})

    per_pair = pairs.mapInPandas(area_batches, "id long, __a double")
    return (
        per_pair.groupBy("id")
        .agg(F.sum("__a").alias("area"))
        .filter(F.col("area") > 1e-12)
    )


def _triangle_sides(tris: DataFrame) -> DataFrame:
    """(ccx, ccy, u, v, ux, uy, vx, vy, ox, oy): each triangle exploded into
    its 3 sides, keeping the circumcenter and the OPPOSITE vertex (needed to
    orient a hull ray outward)."""
    return tris.select(
        "ccx", "ccy",
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("u"), F.col("b").alias("v"),
                    F.col("ax").alias("ux"), F.col("ay").alias("uy"),
                    F.col("bx").alias("vx"), F.col("by").alias("vy"),
                    F.col("cx").alias("ox"), F.col("cy").alias("oy"),
                ),
                F.struct(
                    F.col("b").alias("u"), F.col("c").alias("v"),
                    F.col("bx").alias("ux"), F.col("by").alias("uy"),
                    F.col("cx").alias("vx"), F.col("cy").alias("vy"),
                    F.col("ax").alias("ox"), F.col("ay").alias("oy"),
                ),
                F.struct(
                    F.col("a").alias("u"), F.col("c").alias("v"),
                    F.col("ax").alias("ux"), F.col("ay").alias("uy"),
                    F.col("cx").alias("vx"), F.col("cy").alias("vy"),
                    F.col("bx").alias("ox"), F.col("by").alias("oy"),
                ),
            )
        ).alias("e"),
    ).select("ccx", "ccy", "e.*")


def _hull_ray_end(ccx, ccy, ox, oy, b) -> tuple[F.Column, F.Column]:
    """Far end of the dual ray of hull side (u, v): from the circumcenter
    (ccx, ccy), perpendicular to (u, v), oriented away from the opposite
    vertex (ox, oy). The ray is a finite stand-in of length 4x the diagonal
    of the point bbox ``b`` — exact for any clip region within the extent."""
    far = 4.0 * (((b.x1 - b.x0) ** 2 + (b.y1 - b.y0) ** 2) ** 0.5 or 1.0)
    mx = (F.col("ux") + F.col("vx")) / 2.0
    my = (F.col("uy") + F.col("vy")) / 2.0
    px = F.col("vy") - F.col("uy")
    py = F.col("ux") - F.col("vx")
    plen = F.sqrt(px * px + py * py)
    sign = F.when((px * (mx - ox) + py * (my - oy)) >= 0, 1.0).otherwise(-1.0)
    return ccx + sign * px / plen * F.lit(far), ccy + sign * py / plen * F.lit(far)


def voronoi_polygons(
    points: DataFrame, cells_per_side: int = 1, clip: str | list | None = None
) -> DataFrame:
    """(id, vertices) closed Voronoi cell rings.

    Duality made constructive: the Voronoi cell of a point is the convex
    polygon of the circumcenters of its incident Delaunay triangles, ordered
    by angle around the point (standard duality: Voronoi vertices of cell i =
    circumcenters of triangles incident to i).

    - ``clip=None``: only INTERIOR points (bounded cells) are returned; hull
      cells are unbounded and omitted.
    - ``clip="extent"``: hull cells are included — each unbounded cell is
      truncated along its two boundary rays at 4x the bbox diagonal (exact
      for any clip within the extent: the cut-off part lies beyond it) and
      every cell is Sutherland–Hodgman-clipped to the point bbox. This is
      the reference's default clipped ``voronoi_frames``
      (cg/voronoi.py:309-506; weights/contiguity.py:619-694). Cell areas
      then partition the bbox exactly. (Caveat: a needle-degenerate hull
      corner — exterior angle approaching 180° — would need a larger far
      multiplier for the truncation chord to stay outside the extent.)
    - ``clip="convex_hull"``: same pipeline, final clip against the global
      convex hull of the input points (reference cg/voronoi.py:389-410
      ``clip='convex_hull'``). Cell areas partition the hull exactly.
    - ``clip=[(x, y), ...]``: clip against an arbitrary CONVEX polygon lying
      within the extent (reference's shapely-Polygon mode, :411-436;
      non-convex clips are out of scope — see :func:`_resolve_clip_ring`).

    Plan shape: explode 3 vertices per triangle, one groupBy(id) with an
    angle-sorted collect (bounded by degree), and — only when clipping — one
    mapInPandas pass for the polygon clip.
    """
    tris = delaunay_triangles(points, cells_per_side).localCheckpoint()
    per_vertex = tris.select(
        F.explode(F.array("a", "b", "c")).alias("id"), "ccx", "ccy"
    )
    # boundary (once-used) edges with their single triangle's circumcenter,
    # primal endpoints and the opposite vertex (for outward ray orientation)
    e3 = _triangle_sides(tris)
    grouped = e3.groupBy("u", "v").agg(
        F.count("*").alias("__n"),
        F.first("ccx").alias("ccx"), F.first("ccy").alias("ccy"),
        F.first("ux").alias("ux"), F.first("uy").alias("uy"),
        F.first("vx").alias("vx"), F.first("vy").alias("vy"),
        F.first("ox").alias("ox"), F.first("oy").alias("oy"),
    )
    boundary = grouped.filter(F.col("__n") == 1)
    hull_ids = (
        boundary.select(F.col("u").alias("id"))
        .unionByName(boundary.select(F.col("v").alias("id")))
        .distinct()
    )
    pts = points.select("id", F.col("x").alias("__px"), F.col("y").alias("__py"))

    cell_vertices = per_vertex
    if clip is not None:
        b = points.agg(
            F.min("x").alias("x0"), F.max("x").alias("x1"),
            F.min("y").alias("y0"), F.max("y").alias("y1"),
        ).first()
        # far endpoint of each boundary ray, attributed to BOTH endpoints
        fx, fy = _hull_ray_end(F.col("ccx"), F.col("ccy"), F.col("ox"), F.col("oy"), b)
        fx, fy = fx.alias("ccx"), fy.alias("ccy")
        ray_pts = boundary.select(F.col("u").alias("id"), fx, fy).unionByName(
            boundary.select(F.col("v").alias("id"), fx, fy)
        )
        cell_vertices = per_vertex.unionByName(ray_pts)
    else:
        cell_vertices = per_vertex.join(hull_ids, "id", "left_anti")

    ordered = (
        cell_vertices.join(pts, "id")
        .withColumn("__ang", F.atan2(F.col("ccy") - F.col("__py"), F.col("ccx") - F.col("__px")))
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__ang").alias("a"), F.col("ccx").alias("x"), F.col("ccy").alias("y"))
                )
            ).alias("__ring")
        )
    )
    ring = F.transform("__ring", lambda s: F.struct(s["x"].alias("x"), s["y"].alias("y")))
    closed = F.concat(ring, F.slice(ring, 1, 1))
    cells = ordered.select("id", closed.alias("vertices"))
    if clip is None:
        return cells

    from libpysal_spark.functions.clip2d import batch_clip, rings_from_arrow

    box = [(b.x0, b.y0), (b.x1, b.y0), (b.x1, b.y1), (b.x0, b.y1), (b.x0, b.y0)]
    clip_ring = _resolve_clip_ring(points, clip, box)
    clip_arr = np.asarray(clip_ring, dtype=float)

    def clip_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            P, lens = batch_clip(rings_from_arrow(pdf["vertices"]), clip_arr)
            ids, rings = [], []
            id_np = pdf["id"].to_numpy()
            for i in range(len(pdf)):
                L = int(lens[i])
                if L:
                    ring_pts = P[i, :L]
                    closed_ring = [
                        {"x": float(x), "y": float(y)} for x, y in ring_pts
                    ]
                    closed_ring.append(closed_ring[0])
                    ids.append(int(id_np[i]))
                    rings.append(closed_ring)
            yield pd.DataFrame({"id": ids, "vertices": rings})

    return cells.mapInPandas(
        clip_batches, "id long, vertices array<struct<x double, y double>>"
    )


def _segment_hits_box(p0x, p0y, p1x, p1y, bx0, by0, bx1, by1):
    """Boolean Column: segment P0→P1 intersects the axis-aligned box.

    Liang–Barsky slab test as pure column arithmetic (whole-stage codegen).
    """
    inf = F.lit(float("inf"))
    dx = p1x - p0x
    dy = p1y - p0y

    def slab(d, p0, lo, hi):
        t1 = (lo - p0) / d
        t2 = (hi - p0) / d
        inside = (p0 >= lo) & (p0 <= hi)
        tlo = F.when(d != 0.0, F.least(t1, t2)).otherwise(F.when(inside, -inf).otherwise(inf))
        thi = F.when(d != 0.0, F.greatest(t1, t2)).otherwise(F.when(inside, inf).otherwise(-inf))
        return tlo, thi

    tx_lo, tx_hi = slab(dx, p0x, bx0, bx1)
    ty_lo, ty_hi = slab(dy, p0y, by0, by1)
    tmin = F.greatest(tx_lo, ty_lo, F.lit(0.0))
    tmax = F.least(tx_hi, ty_hi, F.lit(1.0))
    return tmin <= tmax


def _segments_in_convex(seg: DataFrame, ring: list) -> DataFrame:
    """Filter (…, q0x, q0y, q1x, q1y) rows to segments intersecting the
    convex closed ``ring`` — vectorized Cyrus–Beck in an Arrow-batched
    iterator (one numpy (m, H) computation per batch; the ring travels in
    the closure, bounded by the hull-size guard)."""
    cl = ring[:-1] if ring[0] == ring[-1] else ring
    # orient CCW so inward normals are consistent
    area2 = sum(
        cl[i][0] * cl[(i + 1) % len(cl)][1] - cl[(i + 1) % len(cl)][0] * cl[i][1]
        for i in range(len(cl))
    )
    if area2 < 0:
        cl = cl[::-1]
    A = np.array(cl)
    B = np.roll(A, -1, axis=0)
    N = np.stack([-(B[:, 1] - A[:, 1]), B[:, 0] - A[:, 0]], axis=1)  # inward

    schema = seg.schema

    def keep_batches(it):
        for pdf in it:
            q0 = pdf[["q0x", "q0y"]].to_numpy(dtype=float)
            q1 = pdf[["q1x", "q1y"]].to_numpy(dtype=float)
            d = q1 - q0
            # num[m,H] = N_h · (q0 - A_h); den[m,H] = N_h · d
            num = q0 @ N.T - (N * A).sum(1)[None, :]
            den = d @ N.T
            with np.errstate(divide="ignore", invalid="ignore"):
                t = -num / den
            tlo = np.where(den > 0, t, -np.inf)
            thi = np.where(den < 0, t, np.inf)
            # parallel & outside half-plane -> empty
            dead = ((den == 0) & (num < 0)).any(1)
            lo = np.maximum(tlo.max(1), 0.0)
            hi = np.minimum(thi.min(1), 1.0)
            yield pdf[(~dead) & (lo <= hi)]

    return seg.mapInPandas(keep_batches, schema)


def voronoi_weights(
    points: DataFrame, cells_per_side: int = 1, clip: str | list | None = None
) -> Graph:
    """Voronoi-cell contiguity via Delaunay duality.

    Reference: weights/contiguity.py:619-694 / cg/voronoi.py:309-506 build
    Voronoi polygons (clipped by default) then rook contiguity. Duality:
    cells of i and j share a boundary segment iff (i, j) is a Delaunay edge,
    and that shared segment is the DUAL of the edge — the segment joining the
    circumcenters of the two triangles on either side (a ray through the
    primal edge's midpoint for hull edges).

    - ``clip=None``: unclipped duality == the Delaunay graph.
    - ``clip="extent"``: keep an edge only if some part of its dual segment
      lies inside the bounding box of the input points — the clip-aware
      filter matching the reference's default clipped cells, which drops
      hull-adjacent adjacencies whose shared wall lives entirely outside the
      extent. Rays are represented as long finite segments (4× the bbox
      diagonal), exact for any bounded clip region.
    - ``clip="convex_hull"`` / ``clip=[(x, y), ...]`` (convex): same filter
      against the hull / given convex region via vectorized Cyrus–Beck
      (:func:`_segments_in_convex`) — reference ``voronoi_frames`` clip
      modes feeding ``Voronoi`` weights (weights/contiguity.py:619-694).
    """
    if clip is None:
        return delaunay(points, cells_per_side=cells_per_side)

    tris = delaunay_triangles(points, cells_per_side).localCheckpoint()
    b = points.agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).first()

    e3 = _triangle_sides(tris)

    grouped = e3.groupBy("u", "v").agg(
        F.count("*").alias("__nt"),
        F.collect_list(F.struct("ccx", "ccy", "ox", "oy")).alias("__cs"),
        F.first("ux").alias("ux"), F.first("uy").alias("uy"),
        F.first("vx").alias("vx"), F.first("vy").alias("vy"),
    )
    c1 = F.col("__cs")[0]
    c2 = F.col("__cs")[1]
    # hull edge: its dual is the ray from its one circumcenter
    rayx, rayy = _hull_ray_end(c1["ccx"], c1["ccy"], c1["ox"], c1["oy"], b)
    p1x = F.when(F.col("__nt") >= 2, c2["ccx"]).otherwise(rayx)
    p1y = F.when(F.col("__nt") >= 2, c2["ccy"]).otherwise(rayy)
    if clip == "extent":
        kept = grouped.filter(
            _segment_hits_box(
                c1["ccx"], c1["ccy"], p1x, p1y,
                F.lit(float(b.x0)), F.lit(float(b.y0)), F.lit(float(b.x1)), F.lit(float(b.y1)),
            )
        ).select(F.col("u").alias("focal"), F.col("v").alias("neighbor"))
    else:
        box = [(b.x0, b.y0), (b.x1, b.y0), (b.x1, b.y1), (b.x0, b.y1), (b.x0, b.y0)]
        ring = _resolve_clip_ring(points, clip, box)
        seg = grouped.select(
            "u", "v",
            c1["ccx"].alias("q0x"), c1["ccy"].alias("q0y"),
            p1x.alias("q1x"), p1y.alias("q1y"),
        )
        kept = _segments_in_convex(seg, ring).select(
            F.col("u").alias("focal"), F.col("v").alias("neighbor")
        )
    edges = (
        kept.unionByName(
            kept.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
        )
        .withColumn("weight", F.lit(1.0))
    )
    return Graph(resolve_isolates(edges, points.select("id")))
