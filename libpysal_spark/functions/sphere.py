"""Spherical geometry as native column expressions.

Reference: cg/sphere.py — ``arcdist`` (:47), ``arcdist2linear`` /
``linear2arcdist`` (:82-167), ``toXYZ`` (:170-190), ``harcdist`` (haversine).

The engine's arc-metric strategy copies the reference's own trick
(cg/kdtree.py:90 Arc_KDTree): map lon/lat to unit-sphere XYZ, run ALL
euclidean machinery (grid tiling, kNN, bands) on chord lengths, convert
thresholds arc <-> chord at the boundary. Chord and arc length are monotone
in each other, so kNN ranks and band membership transfer exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0
EARTH_RADIUS_MI = 3959.0


def to_xyz(lon: Column, lat: Column) -> tuple[Column, Column, Column]:
    """Unit-sphere cartesian coordinates (cg/sphere.py:170-190)."""
    la = F.radians(lat)
    lo = F.radians(lon)
    return (
        F.cos(la) * F.cos(lo),
        F.cos(la) * F.sin(lo),
        F.sin(la),
    )


def haversine_expr(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                   radius: float = EARTH_RADIUS_KM) -> Column:
    """Great-circle distance (haversine form, cg/sphere.py harcdist)."""
    dla = F.radians(lat2) - F.radians(lat1)
    dlo = F.radians(lon2) - F.radians(lon1)
    a = (
        F.sin(dla / 2) * F.sin(dla / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlo / 2) * F.sin(dlo / 2)
    )
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def arcdist_to_chord(arc: float, radius: float = EARTH_RADIUS_KM) -> float:
    """arc length on sphere of ``radius`` -> unit-sphere chord length
    (reference: cg/sphere.py:82-123 arcdist2linear)."""
    return 2.0 * math.sin(arc / (2.0 * radius))


def chord_to_arcdist(chord: float, radius: float = EARTH_RADIUS_KM) -> float:
    """unit-sphere chord -> arc length (cg/sphere.py:126-167)."""
    return 2.0 * radius * math.asin(min(chord, 2.0) / 2.0)


def with_xyz(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    x, y, z = to_xyz(F.col(lon), F.col(lat))
    return df.withColumn("x3", x).withColumn("y3", y).withColumn("z3", z)


def lonlat_points_planar(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """(id, x, y) projection of XYZ for the 2-D grid machinery.

    For kNN/bands on the sphere we need a 3-D index; with web-scale data away
    from the poles, a 2-D grid on (lon, lat) scaled by cos(mid-lat) prunes
    correctly when the candidate radius is inflated by the projection bound.
    Exact filtering always happens on the true chord/haversine column — the
    grid only generates candidates.
    """
    return df.select("id", F.col(lon).alias("x"), F.col(lat).alias("y"))


def geointerpolate_cols(
    lon0: Column, lat0: Column, lon1: Column, lat1: Column, t: Column
) -> tuple[Column, Column]:
    """Great-circle waypoint (slerp) as native column expressions.

    Reference: cg/sphere.py:502-563 ``geointerpolate`` — the point a fraction
    ``t`` of the way along the great circle from p0 to p1. Returns
    (lon, lat) in decimal degrees.
    """
    f0, l0 = F.radians(lat0), F.radians(lon0)
    f1, l1 = F.radians(lat1), F.radians(lon1)
    sdf = F.sin((f1 - f0) / 2)
    sdl = F.sin((l1 - l0) / 2)
    d = 2 * F.asin(F.sqrt(sdf * sdf + F.cos(f0) * F.cos(f1) * sdl * sdl))
    sind = F.sin(d)
    a = F.when(sind == 0.0, 1.0 - t).otherwise(F.sin((1.0 - t) * d) / sind)
    b = F.when(sind == 0.0, t).otherwise(F.sin(t * d) / sind)
    x = a * F.cos(f0) * F.cos(l0) + b * F.cos(f1) * F.cos(l1)
    y = a * F.cos(f0) * F.sin(l0) + b * F.cos(f1) * F.sin(l1)
    z = a * F.sin(f0) + b * F.sin(f1)
    lat = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
    lon = F.degrees(F.atan2(y, x))
    return lon, lat


def geogrid(spark, pup, pdown, k: int, lonx: bool = True) -> DataFrame:
    """(k+1)×(k+1) great-circle grid over a lon/lat bounding box.

    Reference: cg/sphere.py:566-640 ``geogrid`` (row-major from the top row).
    Distributed form: one range cross-join carrying (row, col) and the two
    nested slerps as column expressions — no driver loop, so a 10^4-cell
    geogrid costs one codegen stage. ``pup``/``pdown`` are (lon, lat) when
    ``lonx`` else (lat, lon). Returns (row, col, lon, lat).
    """
    if not lonx:
        pup, pdown = (pup[1], pup[0]), (pdown[1], pdown[0])
    lon_u, lat_u = float(pup[0]), float(pup[1])
    lon_d, lat_d = float(pdown[0]), float(pdown[1])
    rows = spark.range(k + 1).select(F.col("id").alias("row"))
    cols = spark.range(k + 1).select(F.col("id").alias("col"))
    g = rows.crossJoin(cols)
    ti = F.col("row").cast("double") / F.lit(float(k))
    tj = F.col("col").cast("double") / F.lit(float(k))
    # vertical edges: pup -> (lon_u, lat_d) on the left, (lon_d, lat_u) ->
    # pdown on the right; then interpolate across each row
    llon, llat = geointerpolate_cols(
        F.lit(lon_u), F.lit(lat_u), F.lit(lon_u), F.lit(lat_d), ti
    )
    rlon, rlat = geointerpolate_cols(
        F.lit(lon_d), F.lit(lat_u), F.lit(lon_d), F.lit(lat_d), ti
    )
    g = g.withColumn("__llon", llon).withColumn("__llat", llat)
    g = g.withColumn("__rlon", rlon).withColumn("__rlat", rlat)
    lon, lat = geointerpolate_cols(
        F.col("__llon"), F.col("__llat"), F.col("__rlon"), F.col("__rlat"), tj
    )
    # endpoints pinned exactly as the reference does (corners are not
    # re-interpolated)
    lon = F.when(F.col("col") == 0, F.col("__llon")).when(
        F.col("col") == k, F.col("__rlon")
    ).otherwise(lon)
    lat = F.when(F.col("col") == 0, F.col("__llat")).when(
        F.col("col") == k, F.col("__rlat")
    ).otherwise(lat)
    return g.select("row", "col", lon.alias("lon"), lat.alias("lat"))


def _chord(ax="ax", ay="ay", az="az", bx="bx", by="by", bz="bz") -> Column:
    dx = F.col(ax) - F.col(bx)
    dy = F.col(ay) - F.col(by)
    dz = F.col(az) - F.col(bz)
    return F.sqrt(dx * dx + dy * dy + dz * dz)


def arc_distance_band(
    points: DataFrame,
    threshold: float,
    lon: str = "lon",
    lat: str = "lat",
    radius: float = EARTH_RADIUS_KM,
    cell_deg: float | None = None,
):
    """Great-circle DistanceBand (reference: cg/sphere.py ``fast_threshold``
    :342-380 + Arc_KDTree ``query_ball`` semantics): binary weights for all
    pairs within ``threshold`` (in ``radius`` units) of arc distance.

    Grid shape: (lon, lat) degree cells, lat ring a constant ±ceil(t/s), lon
    ring widened PER FOCAL by the latitude distortion bound
    sin(Δλ/2) <= sin(t/2)/sqrt(cos φ · cos(|φ|+t)) (haversine), falling back
    to the full lon circle near the poles — candidates stay ~linear away
    from the poles, and the exact chord filter keeps the result exact
    everywhere. Lon cells wrap at the antimeridian.
    """
    import math as _m

    from pyspark.sql import functions as _F

    from libpysal_spark.graph import Graph, resolve_isolates

    t_rad = float(threshold) / float(radius)
    t_deg = _m.degrees(t_rad)
    chord_t = arcdist_to_chord(float(threshold), float(radius))
    s = float(cell_deg or max(t_deg, 1e-9))
    nlon = max(int(-(-360.0 // s)), 1)
    s = 360.0 / nlon  # even lon tiling — see arc_knn (ADVICE r2 wrap fix)
    wlat = max(int(-(-t_deg // s)), 1)

    pts = with_xyz(points.select("id", F.col(lon).alias("lon"), F.col(lat).alias("lat")))
    cx = F.pmod(F.floor((F.col("lon") + 180.0) / F.lit(s)), F.lit(nlon))
    cy = F.floor((F.col("lat") + 90.0) / F.lit(s))
    tagged = pts.withColumn("cx", cx).withColumn("cy", cy)

    # per-focal lon half-width in cells (capped at the full circle)
    denom = F.cos(F.radians(F.col("lat"))) * F.cos(
        F.radians(F.least(F.abs(F.col("lat")) + F.lit(t_deg), F.lit(90.0)))
    )
    sin_half = F.lit(_m.sin(t_rad / 2.0)) / F.sqrt(F.greatest(denom, F.lit(1e-12)))
    dlam_deg = F.when(
        sin_half >= 1.0, F.lit(180.0)
    ).otherwise(F.degrees(F.lit(2.0) * F.asin(sin_half)))
    wlon = F.least(
        F.ceil(dlam_deg / F.lit(s)) + 1, F.lit(nlon // 2 + 1)
    ).cast("int")

    probes = (
        tagged.withColumn("__dx", F.explode(F.sequence(-wlon, wlon)))
        .withColumn("__dy", F.explode(F.sequence(F.lit(-wlat), F.lit(wlat))))
        .select(
            F.col("id").alias("focal"),
            F.col("x3").alias("ax"), F.col("y3").alias("ay"), F.col("z3").alias("az"),
            (
                F.pmod(F.col("cx") + F.col("__dx"), F.lit(nlon)) * F.lit(100_000)
                + (F.col("cy") + F.col("__dy"))
            ).alias("cell_probe"),
        )
        .distinct()  # lon wrap can alias probe cells
    )
    right = tagged.select(
        F.col("id").alias("neighbor"),
        F.col("x3").alias("bx"), F.col("y3").alias("by"), F.col("z3").alias("bz"),
        (F.col("cx") * F.lit(100_000) + F.col("cy")).alias("cell_r"),
    )
    edges = (
        probes.join(right, probes.cell_probe == right.cell_r)
        .filter(F.col("focal") != F.col("neighbor"))
        .withColumn("chord", _chord())
        .filter(F.col("chord") <= F.lit(chord_t))
        .select("focal", "neighbor")
        .withColumn("weight", F.lit(1.0))
    )
    return Graph(resolve_isolates(edges, points.select("id")))


def arc_knn(points: DataFrame, k: int, lon: str = "lon", lat: str = "lat",
            radius: float = EARTH_RADIUS_KM, cell_deg: float | None = None,
            initial_ring: int = 1, max_rounds: int = 4):
    """kNN under the great-circle metric via the XYZ-chord trick.

    Chord distance is monotone in arc distance, so euclidean kNN on the
    3-D embedding gives the arc kNN exactly (cg/kdtree.py:90 Arc_KDTree).

    Scale shape — the build runs the planar kNN's ring-expansion core
    (``operators.distance._ring_knn``) on (lon, lat) degree cells, with the
    lon axis WRAPPED at the antimeridian (cyclic cell index) and the chord
    as the distance. Resolution guarantee per focal at latitude φ after
    searching Chebyshev ring r of cell size s: any point outside the ring
    differs by > r·s degrees in lat or in (cyclic) lon, so its chord is at
    least

        g(φ) = 2·sin(r·s/2 rad) · sqrt(max(0, cos φ · cos(min(|φ|+r·s, 90°))))

    (haversine lower bound: sin²(θ/2) >= cos φ₁ cos φ₂ sin²(Δλ/2), and the
    lat-only case is never smaller). A focal is resolved when its kth chord
    is <= g; near the poles g → 0, so polar foci simply fall through to the
    tiny broadcast brute-force residue — exactness never depends on the grid.

    Rounds run only while r < nlon // 2, which keeps 2r+1 <= nlon: the ring
    never wraps onto itself, so no two lon offsets alias to one cell and
    every unordered pair of cells within the ring meets on exactly one key
    of the half ring. Round 1 therefore joins over the half ring and
    mirrors, like the planar build, and holds each focal to its own g(φ)
    after the mirror.
    """
    from libpysal_spark.graph import Graph, resolve_isolates
    from libpysal_spark.operators.distance import _ring_knn
    from libpysal_spark.tiling import pack_cell

    pts = with_xyz(
        points.select("id", F.col(lon).alias("lon"), F.col(lat).alias("lat"))
    )
    n = pts.count()
    if cell_deg is None:
        # quasi-uniform over the sphere: expected kth-NN angular distance
        # ~ sqrt((k+1)·globe_area_deg² / (π·n)); ring 1 should cover ~1.6×.
        area_deg2 = 360.0 * 180.0
        cell_deg = max(1.6 * math.sqrt((k + 1) * area_deg2 / (math.pi * max(n, 1))), 1e-6)
    s = float(cell_deg)
    nlon = max(int(-(-360.0 // s)), 1)
    # ADVICE r2: cells must tile the circle EVENLY — with a ragged final
    # wrap cell (360/s non-integral) a cyclic cell distance of r+1 across
    # the antimeridian can correspond to a lon gap < r·s, breaking the
    # ring-resolution guarantee near the wrap. Shrinking s to 360/nlon
    # keeps the guarantee exact (g uses the SAME s as the grid).
    s = 360.0 / nlon
    tagged = pts.withColumn(
        "cell_x", F.floor((F.col("lon") + 180.0) / F.lit(s))
    ).withColumn("cell_y", F.floor((F.col("lat") + 90.0) / F.lit(s)))

    def guarantee(r: int) -> Column:
        rs = float(r) * s
        phi = F.col("lat_f")
        return F.lit(2.0 * math.sin(math.radians(min(rs, 180.0)) / 2.0)) * F.sqrt(
            F.greatest(
                F.cos(F.radians(phi))
                * F.cos(F.radians(F.least(F.abs(phi) + F.lit(rs), F.lit(90.0)))),
                F.lit(0.0),
            )
        )

    tbl, _ = _ring_knn(
        tagged, n, k, ("x3", "y3", "z3", "lat"),
        lambda cx, cy: pack_cell(F.pmod(cx, F.lit(nlon)), cy),
        _chord("x3_f", "y3_f", "z3_f", "x3_n", "y3_n", "z3_n"),
        guarantee, initial_ring, max_rounds, ring_cap=nlon // 2,
    )
    edges = tbl.select("focal", "neighbor").withColumn("weight", F.lit(1.0))
    return Graph(resolve_isolates(edges, points.select("id")))
