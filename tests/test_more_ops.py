"""Raster, spint (ODW/netW/vecW), sphere, adaptive kernel, coplanar, IO."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from libpysal_spark.graph import Graph
from libpysal_spark.io.weights_io import (
    read_gal, read_gwt, read_parquet, write_gal, write_gwt, write_parquet,
)
from libpysal_spark.functions.sphere import arc_knn, chord_to_arcdist, haversine_expr
from libpysal_spark.operators.distance import adaptive_kernel, unique_site_cliques
from libpysal_spark.operators.lattice import lat2w
from libpysal_spark.operators.raster import raster_contiguity
from libpysal_spark.operators.spint import netw, odw, vecw


def _nbrs(g: Graph) -> dict:
    n, _ = g.neighbor_dicts()
    return {k: set(v) for k, v in n.items()}


def test_raster_rook_nodata(spark):
    # 3x3, center cell dead: neighbors route around it (k=1)
    cells = spark.createDataFrame(
        [(0, r, c) for r in range(3) for c in range(3) if not (r == 1 and c == 1)],
        "band int, row int, col int",
    )
    n = _nbrs(raster_contiguity(cells, 3, 3, "rook"))
    assert n[0] == {1, 3}
    assert 4 not in n
    assert n[1] == {0, 2}  # not 4 (dead)


def test_raster_k2_respects_nodata_paths(spark):
    # 1x5 strip with cell (0,2) dead: 0 cannot reach 3 in 2 rook steps
    cells = spark.createDataFrame(
        [(0, 0, c) for c in range(5) if c != 2], "band int, row int, col int"
    )
    n = _nbrs(raster_contiguity(cells, 1, 5, "rook", k=2))
    assert n[0] == {1}
    assert n[3] == {4}


def test_raster_multiband(spark):
    cells = spark.createDataFrame(
        [(b, r, c) for b in range(2) for r in range(2) for c in range(2)],
        "band int, row int, col int",
    )
    n = _nbrs(raster_contiguity(cells, 2, 2, "queen"))
    # bands do not connect; ids: band*4 + row*2 + col
    assert n[0] == {1, 2, 3}
    assert n[4] == {5, 6, 7}


def test_odw_matches_kron(spark):
    wo = lat2w(spark, 2, 2, "rook")
    wd = lat2w(spark, 1, 3, "rook")
    g = odw(wo, wd, 3)
    got = {(r.focal, r.neighbor): r.weight for r in g.edges.collect() if r.weight != 0.0}

    def dense(graph, n):
        m = np.zeros((n, n))
        for r in graph.edges.collect():
            if not (r.focal == r.neighbor and r.weight == 0.0):
                m[r.focal, r.neighbor] = r.weight
        return m

    want = np.kron(dense(wo, 4), dense(wd, 3))
    ii, jj = np.nonzero(want)
    assert got == {(int(i), int(j)): want[i, j] for i, j in zip(ii, jj)}


def test_netw_modes(spark):
    links = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 3), (2, 3, 4), (3, 1, 4)], "link_id long, o long, d long"
    )
    assert _nbrs(netw(links, "O"))[0] == {3}
    assert _nbrs(netw(links, "D"))[2] == {3}
    assert _nbrs(netw(links, "OD"))[0] == {1}  # d of 0 (=2) is o of 1
    assert _nbrs(netw(links, "A"))[0] == {1, 3}


def test_vecw_bruteforce(spark):
    rows = [
        (i, float(i % 6), float(i // 6), float((i * 5) % 8), float((i * 5) // 8))
        for i in range(40)
    ]
    flows = spark.createDataFrame(rows, "id long, ox double, oy double, dx double, dy double")
    a = np.array([r[1:] for r in rows])
    d = np.sqrt(((a[:, None, :] - a[None, :, :]) ** 2).sum(-1))
    np.fill_diagonal(d, np.inf)
    t = 3.0
    want = {(int(i), int(j)) for i, j in zip(*np.where(d <= t))}
    got = {
        (r.focal, r.neighbor)
        for r in vecw(flows, t).edges.collect()
        if not (r.focal == r.neighbor and r.weight == 0.0)
    }
    assert got == want


def test_adaptive_kernel_bandwidth(spark):
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 3.0, 0.0), (3, 10.0, 0.0)],
        "id long, x double, y double",
    )
    g = adaptive_kernel(pts, 2, "triangular")
    w = {(r.focal, r.neighbor): r.weight for r in g.edges.collect()}
    # focal 0: knn {1 (d=1), 2 (d=3)} -> bw = 3; w(0,1) = 1 - 1/3
    assert abs(w[(0, 1)] - (1 - 1 / 3)) < 1e-12
    assert w[(0, 2)] == 0.0  # kth point sits at bandwidth: 1 - 1 = 0


def test_adaptive_kernel_fixed(spark):
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 3.0, 0.0)], "id long, x double, y double"
    )
    g = adaptive_kernel(pts, 1, "triangular", fixed=True, eps=1.0)
    w = {(r.focal, r.neighbor): r.weight for r in g.edges.collect()}
    # global bw = max 1st-NN dist = d(2,1) = 2
    assert abs(w[(0, 1)] - 0.5) < 1e-12


def test_unique_site_cliques(spark):
    # 4 sites at x=0,1,2,3 with 3 coincident points each
    pts = spark.createDataFrame(
        [(i, float(i // 3), 0.0) for i in range(12)], "id long, x double, y double"
    )
    g = unique_site_cliques(pts, 1)
    n = _nbrs(g)
    # point 0 (site 0): clique with 1,2 + site-knn edge to site 1 members 3,4,5
    assert n[0] == {1, 2, 3, 4, 5}
    assert n[11] == {9, 10, 6, 7, 8}


def test_unique_site_cliques_salted_equals_unsalted(spark):
    # one hot site (300 coincident members) + two normal sites: the salted
    # clique join must produce the identical edge set for any salt
    rows = [(i, 0.0, 0.0) for i in range(300)]
    rows += [(300, 5.0, 0.0), (301, 10.0, 0.0)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    e1 = unique_site_cliques(pts, 1, salt=1).edges
    e8 = unique_site_cliques(pts, 1, salt=8).edges
    assert e1.count() == e8.count()
    assert e1.exceptAll(e8).count() == 0 and e8.exceptAll(e1).count() == 0


def test_unique_site_cliques_overflow_raise(spark):
    pts = spark.createDataFrame(
        [(i, 0.0, 0.0) for i in range(50)] + [(50, 1.0, 0.0)],
        "id long, x double, y double",
    )
    with pytest.raises(ValueError, match="max_clique"):
        unique_site_cliques(pts, 1, max_clique=10, on_overflow="raise")


def test_unique_site_cliques_overflow_sample_bounds(spark):
    # a 10k-member hot site: full clique would be ~1e8 pairs; the sampled
    # policy bounds it to O(max_clique^2 + cnt) while staying connected,
    # and the salt bounds the largest single shuffle key group
    from libpysal_spark.plans.skew import salted_self_join

    n_hot, cap, salt = 10_000, 64, 16
    rows = [(i, 0.0, 0.0) for i in range(n_hot)] + [(n_hot, 3.0, 0.0)]
    pts = spark.createDataFrame(rows, "id long, x double, y double").repartition(8)
    g = unique_site_cliques(pts, 1, salt=salt, max_clique=cap, on_overflow="sample")
    m = g.edges.count()
    # core clique (cap*(cap-1)) + symmetric star (2*(n_hot-cap))
    # + expansion: hot<->site-B is mutual 1-NN, cap core members each way
    assert m <= cap * (cap - 1) + 2 * (n_hot - cap) + 4 * cap
    # connectivity: every member has degree >= 1 (no islands / isolates)
    assert g.edges.select("focal").distinct().count() == n_hot + 1
    # salted join key groups are bounded ~ cnt/salt on the build side
    members = pts.select(F.lit(0).alias("site"), "id")
    a_groups = (
        members.select(
            "site", F.pmod(F.xxhash64(F.col("id")), F.lit(salt)).alias("__salt")
        )
        .groupBy("site", "__salt")
        .count()
    )
    assert a_groups.agg(F.max("count")).first()[0] < (n_hot + 1) / salt * 2
    assert salted_self_join is not None


def test_arc_knn_quarter_circumference(spark):
    # cg/kdtree.py:102-109 sanity set
    pts = spark.createDataFrame(
        [(0, 0.0, 90.0), (1, 0.0, 0.0), (2, 180.0, 0.0), (3, 0.0, -90.0)],
        "id long, lon double, lat double",
    )
    g = arc_knn(pts, 2)
    n = _nbrs(g)
    # pole's two nearest (quarter circumference, tie) = lowest ids {1, 2}
    assert n[0] == {1, 2}
    assert n[1] == {0, 3}


def test_arc_knn_matches_bruteforce_across_wrap_and_poles(spark, monkeypatch):
    """Seeded arc kNN vs a numpy brute force: chord distance on the unit
    sphere, ties broken by (chord, id). Points straddle ±180° lon, some sit
    above |lat| 85° (where the ring guarantee vanishes, so they reach the
    residue), and a coincident cluster forces id tie-breaks."""
    from libpysal_spark.operators import distance as D

    rng = np.random.default_rng(7)
    lon = np.concatenate([
        rng.uniform(-180, 180, 60),
        rng.uniform(176, 180, 15),
        rng.uniform(-180, -176, 15),
        rng.uniform(-180, 180, 10),
        np.full(5, 31.5),
    ])
    lat = np.concatenate([
        rng.uniform(-80, 80, 60),
        rng.uniform(-30, 30, 30),
        np.concatenate([rng.uniform(85.5, 89.9, 5), rng.uniform(-89.9, -85.5, 5)]),
        np.full(5, -12.25),
    ])
    ids = np.arange(len(lon)) * 3 + 1
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, lon, lat)],
        "id long, lon double, lat double",
    )
    infos = []
    core = D._ring_knn

    def spy(*a, **kw):
        out = core(*a, **kw)
        infos.append(out[1])
        return out

    monkeypatch.setattr(D, "_ring_knn", spy)
    k = 4
    got = _nbrs(arc_knn(pts, k, cell_deg=5.0))
    assert infos[0]["rounds"] >= 2 and infos[0]["residue"] > 0

    la, lo = np.radians(lat), np.radians(lon)
    xyz = np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], 1)
    chord = np.sqrt(((xyz[:, None, :] - xyz[None, :, :]) ** 2).sum(-1))
    for i, fid in enumerate(ids):
        order = sorted((chord[i, j], ids[j]) for j in range(len(ids)) if j != i)
        assert got[fid] == {int(n) for _, n in order[:k]}, fid


def test_knn_isolate_gate_is_per_call_under_threads(spark):
    """A 1-point knn keeps its zero-weight self-loop while another thread
    builds adaptive kernels (the isolate gate reads this call's own point
    count, not another call's)."""
    import threading

    from libpysal_spark.operators.distance import knn

    one = spark.createDataFrame([(7, 0.5, 0.5)], "id long, x double, y double")
    rng = np.random.default_rng(3)
    many = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.random((200, 2)) * 50)],
        "id long, x double, y double",
    )
    stop = threading.Event()
    errors = []

    def kernels():
        try:
            while not stop.is_set():
                adaptive_kernel(many, 5).edges.count()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=kernels)
    t.start()
    try:
        for _ in range(8):
            rows = [tuple(r) for r in knn(one, 3).edges.collect()]
            assert rows == [(7, 7, 0.0)]
    finally:
        stop.set()
        t.join()
    assert not errors


def test_haversine_half_circumference(spark):
    df = spark.createDataFrame([(0.0, 0.0, 180.0, 0.0)], "lon1 double, lat1 double, lon2 double, lat2 double")
    d = df.select(haversine_expr(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")).first().d
    assert abs(d - math.pi * 6371.0) < 1e-6
    assert abs(chord_to_arcdist(2.0) - math.pi * 6371.0) < 1e-6


def test_io_roundtrips(spark, tmp_path):
    g = lat2w(spark, 3, 3, "rook")
    gal = str(tmp_path / "w.gal")
    write_gal(g, gal)
    assert g.equals(read_gal(spark, gal))
    gwt = str(tmp_path / "w.gwt")
    write_gwt(g.transform("R"), gwt)
    g2 = read_gwt(spark, gwt)
    assert abs(
        g2.edges.filter((F.col("focal") == 0) & (F.col("neighbor") == 1)).first().weight - 0.5
    ) < 1e-12
    pq = str(tmp_path / "w.parquet")
    write_parquet(g.transform("R"), pq)
    g3 = read_parquet(spark, pq)
    assert g3.transformation == "R"
    assert g.transform("R").equals(g3)
    from libpysal_spark.io.weights_io import read_mtx, write_mtx

    mtx = str(tmp_path / "w.mtx")
    write_mtx(g.transform("R"), mtx)
    g4 = read_mtx(spark, mtx)
    assert g.transform("R").equals(g4)
    assert open(mtx).readline().startswith("%%MatrixMarket")


def test_components_and_clustering(spark):
    g = Graph.from_dicts(spark, {0: [1], 1: [0], 2: [3], 3: [2], 9: []})
    labs = {r.id: r.component for r in g.component_labels().collect()}
    assert labs == {0: 0, 1: 0, 2: 2, 3: 2, 9: 9}
    assert g.n_components() == 3
    tri = Graph.from_dicts(spark, {0: [1, 2], 1: [0, 2], 2: [0, 1], 3: [0]})
    cl = {r.id: r.clustering for r in tri.local_clustering().collect()}
    assert cl[0] == 1.0 and cl[3] == 0.0


def test_component_labels_driver_gate_matches_distributed(spark):
    """r6: the broadcast-scale driver path must produce byte-identical labels
    to the alternating-star plan (both are min-id-per-component), and string
    ids must bypass the gate (numpy string order is not guaranteed to match
    Spark's)."""
    import libpysal_spark.graph as G

    # a chain (worst case for hash-min), a clique, and an isolate
    nbrs = {i: [i + 1] for i in range(0, 40)}
    nbrs[40] = []
    nbrs.update({100: [101, 102], 101: [100, 102], 102: [100, 101], 999: []})
    g = Graph.from_dicts(spark, nbrs)
    drv = {r.id: r.component for r in g.component_labels(driver_cap=10**6).collect()}
    assert G.last_components_info.get("driver_path") is True
    dist = {r.id: r.component for r in g.component_labels(driver_cap=0).collect()}
    assert "driver_path" not in G.last_components_info
    assert drv == dist
    assert drv[40] == 0 and drv[102] == 100 and drv[999] == 999

    gs = Graph(
        spark.createDataFrame(
            [("a", "b", 1.0), ("b", "a", 1.0), ("c", "c", 0.0)],
            "focal string, neighbor string, weight double",
        )
    )
    labs = {r.id: r.component for r in gs.component_labels(driver_cap=10**6).collect()}
    assert "driver_path" not in G.last_components_info  # string ids -> star path
    assert labs == {"a": "a", "b": "a", "c": "c"}


def test_component_labels_star_loop_signs_filtered_edges(spark):
    """An already-contracted edge set with an isolate converges in one
    star round: the loop's starting signature covers the same
    self-loop-filtered rows it iterates on, not the isolate row too."""
    import libpysal_spark.graph as G

    g = Graph(
        spark.createDataFrame(
            [(1, 0, 1.0), (2, 0, 1.0), (5, 5, 0.0)],
            "focal long, neighbor long, weight double",
        )
    )
    dist = {r.id: r.component for r in g.component_labels(driver_cap=0).collect()}
    assert G.last_components_info["rounds"] == 1
    drv = {r.id: r.component for r in g.component_labels(driver_cap=10**6).collect()}
    assert G.last_components_info.get("driver_path") is True
    assert dist == drv


def test_w_clip_and_remap(spark):
    a = Graph.from_dicts(spark, {0: [1, 2], 1: [0], 2: [0]})
    b = Graph.from_dicts(spark, {0: [1], 1: [0], 2: []})
    clipped = {
        (r.focal, r.neighbor)
        for r in a.w_clip(b).edges.collect()
        if not (r.focal == r.neighbor and r.weight == 0.0)
    }
    assert clipped == {(0, 1), (1, 0)}
    mapping = spark.createDataFrame([(0, 100), (1, 101), (2, 102)], "old long, new long")
    remapped = _nbrs(a.remap_ids(mapping))
    assert remapped[100] == {101, 102}


def test_write_mtx_densifies_non_dense_ids(spark, tmp_path):
    """ADVICE r2: sparse ids (custkey-like) must be rank-mapped so the file's
    declared dims bound every written index; round-trip preserves structure
    under the order-preserving relabeling."""
    from libpysal_spark.graph import Graph, resolve_isolates
    from libpysal_spark.io.weights_io import read_mtx, write_mtx

    edges = spark.createDataFrame(
        [(100, 907, 2.0), (907, 100, 2.0), (907, 5000, 1.0), (5000, 907, 1.0)],
        "focal long, neighbor long, weight double",
    )
    ids = spark.createDataFrame([(100,), (907,), (5000,)], "id long")
    g = Graph(resolve_isolates(edges, ids))
    path = str(tmp_path / "w.mtx")
    write_mtx(g, path)
    header = [ln for ln in open(path) if not ln.startswith("%")][0].split()
    rows, cols, nnz = map(int, header)
    assert (rows, cols, nnz) == (3, 3, 4)
    body = [ln.split() for ln in open(path) if not ln.startswith("%")][1:]
    assert all(1 <= int(i) <= rows and 1 <= int(j) <= cols for i, j, _ in body)
    g2 = read_mtx(spark, path)
    got = sorted(map(tuple, g2.edges.filter("weight > 0").collect()))
    assert got == [(0, 1, 2.0), (1, 0, 2.0), (1, 2, 1.0), (2, 1, 1.0)]


def test_swm_round_trip_with_isolates(spark, tmp_path):
    from libpysal_spark.graph import Graph, resolve_isolates
    from libpysal_spark.io.weights_io import read_swm, write_swm

    edges = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 0.5), (2, 3, 1.5), (3, 2, 1.5)],
        "focal long, neighbor long, weight double",
    )
    ids = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id long")  # 9 isolate
    g = Graph(resolve_isolates(edges, ids), transformation="R")
    path = str(tmp_path / "w.swm")
    write_swm(g, path, id_var="MYID", srs="GCS_WGS_1984")
    g2 = read_swm(spark, path)
    assert g2.transformation == "R"
    assert sorted(map(tuple, g2.edges.collect())) == sorted(
        map(tuple, g.edges.collect())
    )


def test_swm_new_version_fixed_weights(spark, tmp_path):
    """10.1+ header with FIXEDWEIGHTS@TRUE: one float64 fans out to every
    neighbor (golden bytes built from the documented format spec)."""
    import struct

    from libpysal_spark.io.weights_io import read_swm

    path = str(tmp_path / "new.swm")
    with open(path, "wb") as f:
        f.write(b"VERSION@10.1;UNIQUEID@MYID;SPATIALREFNAME@X;FIXEDWEIGHTS@TRUE\n")
        f.write(struct.pack("<2l", 2, 0))
        f.write(struct.pack("<2l", 7, 2))
        f.write(struct.pack("<2l", 8, 9))          # neighbors of 7
        f.write(struct.pack("<d", 0.25))           # ONE fixed weight
        f.write(struct.pack("<d", 0.5))            # stored sum
        f.write(struct.pack("<2l", 8, 0))          # obs 8: no neighbors
    g = read_swm(spark, path)
    real = sorted(map(tuple, g.edges.filter("weight > 0").collect()))
    assert real == [(7, 8, 0.25), (7, 9, 0.25)]
    iso = g.edges.filter("weight = 0").collect()
    assert {(r.focal, r.neighbor) for r in iso} == {(8, 8)}


def test_dat_round_trip(spark, tmp_path):
    from libpysal_spark.graph import Graph
    from libpysal_spark.io.weights_io import read_dat, write_dat

    edges = spark.createDataFrame(
        [(2, 1, 0.25), (5, 1, 0.5), (1, 2, 0.25)],
        "focal long, neighbor long, weight double",
    )
    g = Graph(edges)
    path = str(tmp_path / "w.dat")
    write_dat(g, path)
    g2 = read_dat(spark, path)
    real = sorted(map(tuple, g2.edges.filter("weight > 0").collect()))
    assert real == [(1, 2, 0.25), (2, 1, 0.25), (5, 1, 0.5)]


def test_batch_clip_matches_scalar():
    """clip2d batch Sutherland-Hodgman == overlay scalar kernel, vertex-exact,
    on random convex clips x star subjects (open/closed, CW/CCW variants)."""
    import math

    import numpy as np

    from libpysal_spark.functions.clip2d import batch_clip, batch_clip_areas
    from libpysal_spark.operators.overlay import _clip_area, _clip_ring

    rng = np.random.RandomState(3)

    def rand_convex(n, cx, cy, r):
        ang = np.sort(rng.uniform(0, 2 * math.pi, n))
        return [(cx + r * math.cos(a), cy + r * math.sin(a)) for a in ang]

    def rand_poly(n, cx, cy, r):
        ang = np.sort(rng.uniform(0, 2 * math.pi, n))
        rr = rng.uniform(0.3 * r, r, n)
        return [
            (cx + rr[i] * math.cos(a), cy + rr[i] * math.sin(a))
            for i, a in enumerate(ang)
        ]

    subs, clips = [], []
    for i in range(300):
        subj = rand_poly(rng.randint(3, 12), rng.uniform(0, 8), rng.uniform(0, 8), rng.uniform(0.5, 3))
        clip = rand_convex(rng.randint(3, 9), rng.uniform(0, 8), rng.uniform(0, 8), rng.uniform(0.5, 3))
        if i % 2 == 0:
            subj = subj + [subj[0]]
        if i % 3 == 0:
            clip = clip + [clip[0]]
        if i % 5 == 0:
            clip = clip[::-1]
        subs.append(np.array(subj))
        clips.append(np.array(clip))

    P, lens = batch_clip(subs, clips)
    areas = batch_clip_areas(subs, clips)
    hit = 0
    for i in range(300):
        s = [tuple(p) for p in subs[i]]
        c = [tuple(p) for p in clips[i]]
        assert abs(_clip_area(s, c) - areas[i]) <= 1e-9 * max(1.0, areas[i])
        r_s = _clip_ring(s, c)
        assert len(r_s) == lens[i]
        if lens[i]:
            hit += 1
            assert np.allclose(np.array(r_s), P[i, : lens[i]], atol=1e-12)
    assert hit > 20  # the fixture must actually exercise overlaps


def test_ear_clip_partitions_polygon():
    """Ear-clip triangles of a simple polygon: count n-2 and areas summing
    exactly to the polygon area (the invariant the non-convex overlay path
    relies on)."""
    import math

    import numpy as np

    from libpysal_spark.operators.overlay import _ear_clip

    rng = np.random.RandomState(9)
    for _ in range(50):
        n = rng.randint(4, 15)
        # stratified angles keep the origin inside -> star-shaped, hence
        # SIMPLE (plain sorted-uniform angles can leave the origin outside
        # and self-intersect)
        ang = (np.arange(n) + rng.uniform(0.0, 0.9, n)) * 2 * math.pi / n
        rr = rng.uniform(0.2, 1.0, n)  # star polygon: simple, non-convex
        ring = np.column_stack([rr * np.cos(ang), rr * np.sin(ang)])
        a2 = 0.0
        for i in range(n):
            j = (i + 1) % n
            a2 += ring[i][0] * ring[j][1] - ring[j][0] * ring[i][1]
        if a2 < 0:
            ring = ring[::-1]
        tris = _ear_clip(ring)
        assert len(tris) == n - 2
        tot = sum(
            abs(
                (t[1][0] - t[0][0]) * (t[2][1] - t[0][1])
                - (t[1][1] - t[0][1]) * (t[2][0] - t[0][0])
            )
            / 2.0
            for t in tris
        )
        assert abs(tot - abs(a2) / 2.0) < 1e-9


def test_stata_text_reader_matches_reference_doctest(spark, tmp_path):
    """stata_sparse.txt: n=56, w[1] == {53,51,45,54,7} all 1.0 (the
    reference's own doctest values, io/iohandlers/stata_txt.py:126-141);
    sparse + matrix write forms round-trip."""
    from libpysal_spark.io.weights_io import read_stata_text, write_stata_text

    path = "/root/reference/libpysal/examples/wmat/stata_sparse.txt"
    g = read_stata_text(spark, path)
    nbrs, wts = g.neighbor_dicts()
    assert len(nbrs) == 56
    assert set(nbrs[1]) == {53, 51, 45, 54, 7}
    assert all(w == 1.0 for w in wts[1])

    p1 = str(tmp_path / "sparse.txt")
    write_stata_text(g, p1)
    g1 = read_stata_text(spark, p1)
    assert g1.equals(g)

    p2 = str(tmp_path / "matrix.txt")
    write_stata_text(g, p2, matrix_form=True)
    g2 = read_stata_text(spark, p2)
    assert g2.equals(g)


def test_geobugs_reader_scot_fixture(spark, tmp_path):
    """geobugs_scot: 56 districts, w[1] == {19,9,5}, district 6 is an
    island (num=0) — encoded as an isolate; write/read round-trips."""
    from libpysal_spark.io.weights_io import read_geobugs, write_geobugs

    path = "/root/reference/libpysal/examples/wmat/geobugs_scot"
    g = read_geobugs(spark, path)
    nbrs, _ = g.neighbor_dicts()
    assert len(nbrs) == 56
    assert set(nbrs[1]) == {19, 9, 5}
    assert nbrs[6] == []

    p = str(tmp_path / "out.geobugs")
    write_geobugs(g, p)
    g2 = read_geobugs(spark, p)
    assert g2.equals(g)


def test_mat_wk1_cross_validate_and_roundtrip(spark, tmp_path):
    """spat-sym-us ships in FOUR formats (mat, wk1, dat, mtx): all four
    readers must agree on the same matrix, and mat/wk1 write->read
    round-trips must be exact."""
    from libpysal_spark.io.weights_io import (
        read_mat, read_wk1, write_mat, write_wk1,
    )

    base = "/root/reference/libpysal/examples/wmat"
    g_mat = read_mat(spark, f"{base}/spat-sym-us.mat")
    g_wk1 = read_wk1(spark, f"{base}/spat-sym-us.wk1")

    def edge_set(g):
        return {
            (r.focal, r.neighbor, round(r.weight, 9))
            for r in g.edges.collect()
            if not (r.focal == r.neighbor and r.weight == 0.0)
        }

    assert edge_set(g_mat) == edge_set(g_wk1)
    assert len(edge_set(g_mat)) > 0

    p1 = str(tmp_path / "w.mat")
    write_mat(g_mat, p1)
    assert edge_set(read_mat(spark, p1)) == edge_set(g_mat)

    p2 = str(tmp_path / "w.wk1")
    write_wk1(g_wk1, p2)
    assert edge_set(read_wk1(spark, p2)) == edge_set(g_wk1)


def test_sqlite_geometry_roundtrip_and_queen(spark, tmp_path):
    """sqlite WKB geometry table (reference io/iohandlers/db.py surface):
    write -> read round-trips ring-exact and queen over the table matches
    queen over the original polygons."""
    from libpysal_spark.io.geometry_io import (
        parse_wkb, read_sqlite_geometries, to_wkb, write_sqlite_geometries,
    )
    from libpysal_spark.operators.contiguity import queen
    from libpysal_spark.operators.lattice import lattice_polygons

    pos = spark.createDataFrame(
        [(i, i % 3, i // 3) for i in range(9)], "id long, gx int, gy int"
    )
    polys = lattice_polygons(spark, pos)
    db = str(tmp_path / "geo.sqlite")
    write_sqlite_geometries(polys, db, "areas")
    back = read_sqlite_geometries(spark, db, "areas")

    def rings(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.id, []).append(tuple((v["x"], v["y"]) for v in r.vertices))
        return {k: sorted(v) for k, v in out.items()}

    assert rings(back) == rings(polys)

    n1, _ = queen(polys).neighbor_dicts()
    n2, _ = queen(back).neighbor_dicts()
    assert {k: set(v) for k, v in n1.items()} == {k: set(v) for k, v in n2.items()}

    # WKB codec: multipolygon + big-endian parse
    import struct

    le = to_wkb([[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]])
    assert parse_wkb(le) == [[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]]
    be_point = struct.pack(">BI2d", 0, 1, 2.5, -3.5)
    assert parse_wkb(be_point) == [[(2.5, -3.5)]]


def test_wk1_asymmetric_row_column_order(spark, tmp_path):
    """ADVICE r5 (medium): WK1 cell records are (format, ROW, COLUMN) in the
    reference handler (io/iohandlers/wk1.py:232) — an asymmetric matrix must
    survive a write->read round trip UNtransposed, and the bytes must carry
    row-first indices so reference-written files interoperate."""
    import struct

    from libpysal_spark.graph import Graph, resolve_isolates
    from libpysal_spark.io.weights_io import read_wk1, write_wk1

    # asymmetric: 0->1 (w=2) but NOT 1->0; 2 isolate
    e = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 5.0)], "focal long, neighbor long, weight double"
    )
    ids = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    g = Graph(resolve_isolates(e, ids))
    p = str(tmp_path / "asym.wk1")
    write_wk1(g, p)

    def edge_set(gr):
        return {
            (r.focal, r.neighbor, r.weight)
            for r in gr.edges.collect()
            if not (r.focal == r.neighbor and r.weight == 0.0)
        }

    assert edge_set(read_wk1(spark, p)) == {(0, 1, 2.0), (1, 2, 5.0)}

    # byte-level pin: the NUMBER record for value 2.0 carries (row=0, col=1)
    data = open(p, "rb").read()
    pos, found = 0, None
    while pos + 4 <= len(data):
        t, ln = struct.unpack("<HH", data[pos : pos + 4])
        body = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if t == 0x0E:
            _, first, second = struct.unpack("<BHH", body[:5])
            (v,) = struct.unpack("<d", body[5:13])
            if v == 2.0:
                found = (first, second)
    assert found == (0, 1)  # row-first, reference order


def test_parse_wkb_ewkb_srid_and_zm_handling():
    """ADVICE r5: EWKB SRID flag means 4 SRID bytes after the type word —
    they must be skipped, not read as a ring count; Z/M variants raise a
    clear error instead of misparsing coordinates."""
    import struct

    import pytest

    from libpysal_spark.io.geometry_io import parse_wkb

    # EWKB point with SRID flag (0x20000000) + srid 4326
    ewkb_pt = struct.pack("<BIi2d", 1, 1 | 0x20000000, 4326, 3.0, 4.0)
    assert parse_wkb(ewkb_pt) == [[(3.0, 4.0)]]

    # EWKB polygon with SRID flag: 1 ring, 4 points
    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
    body = struct.pack("<I", 4) + struct.pack("<8d", *[c for p in ring for c in p])
    ewkb_poly = struct.pack("<BIiI", 1, 3 | 0x20000000, 4326, 1) + body
    assert parse_wkb(ewkb_poly) == [ring]

    # EWKB Z flag -> loud error
    with pytest.raises(ValueError, match="Z/M"):
        parse_wkb(struct.pack("<BI3d", 1, 1 | 0x80000000, 1.0, 2.0, 3.0))
    # ISO WKB PointZ (1001) -> loud error
    with pytest.raises(ValueError, match="Z/M"):
        parse_wkb(struct.pack("<BI3d", 1, 1001, 1.0, 2.0, 3.0))
