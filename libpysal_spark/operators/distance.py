"""Distance-family weights builders: distance band, kernel, kNN.

Reference semantics:
- DistanceBand — all pairs with d <= threshold, binary or d^alpha weights
  (reference: weights/distance.py:748-1009, graph/_kernel.py:372-379);
- Kernel — K(d/h) over compact-support candidates
  (reference: graph/_kernel.py:38-261, kernels.py:243-310);
- KNN — k nearest neighbors, self excluded
  (reference: weights/distance.py:33-164, graph/_kernel.py:264-369).

Spark design: the KDTree (cg/kdtree.py:33) is replaced by the grid-cell
candidate join (tiling.py). The sparse O(N·avg_neighbors) fast path the
reference special-cases (graph/_kernel.py:117-126) is inherent here — the
candidate join IS the sparse path; a dense pairwise matrix is never
materialized. kNN uses ring expansion: resolve points whose kth neighbor is
provably inside the searched ring (kth_dist <= r*s), widen the ring only for
the rest — a driver-coordinated loop whose unresolved side shrinks
geometrically, so at 1000 executors each round is a small skew-free join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from libpysal_spark.graph import Graph, resolve_isolates
from libpysal_spark.functions.kernels import kernel_expr
from libpysal_spark.plans.skew import salted_self_join
from libpysal_spark.tiling import ensure_min_parallelism, pack_cell, with_cells

POINT_COLS = ("id", "x", "y")


def _dist(p: float = 2.0) -> F.Column:
    # p=2 / p=1 use only mul/add/sqrt/abs: IEEE correctly-rounded and
    # bit-identical across engines — required for threshold filters and kNN
    # ranking to be reproducible against the SQL oracle and across cluster
    # sizes (north_rule invariance). Other Minkowski p fall back to pow
    # (reference: weights/distance.py KNN/DistanceBand ``p`` parameter).
    dx = F.col("x_f") - F.col("x_n")
    dy = F.col("y_f") - F.col("y_n")
    if p == 2.0:
        return F.sqrt(dx * dx + dy * dy)
    if p == 1.0:
        return F.abs(dx) + F.abs(dy)
    return F.pow(
        F.pow(F.abs(dx), F.lit(float(p))) + F.pow(F.abs(dy), F.lit(float(p))),
        F.lit(1.0 / float(p)),
    )


def _ring(r: int, half: bool = False) -> F.Column:
    """Constant array of the (dx, dy) cell offsets of Chebyshev ring ``r``.

    ``half`` keeps the lexicographically-positive half (dy > 0, or dy = 0
    and dx >= 0): of two distinct cells within the ring, exactly one probes
    the other, and a cell probes itself once.
    """
    full = (
        f"flatten(transform(sequence(-{r}, {r}), dx -> "
        f"transform(sequence(-{r}, {r}), dy -> struct(dx, dy))))"
    )
    if half:
        return F.expr(f"filter({full}, o -> o.dy > 0 or (o.dy = 0 and o.dx >= 0))")
    return F.expr(full)


def _ends(role: str, cols) -> list[F.Column]:
    """``id`` as ``role`` (focal / neighbor) and ``cols`` suffixed _f / _n."""
    sfx = "_f" if role == "focal" else "_n"
    return [F.col("id").alias(role), *(F.col(c).alias(c + sfx) for c in cols)]


def _ring_pairs(
    focal_pts: DataFrame,
    all_pts: DataFrame,
    r: int,
    cols,
    key,
    dist: F.Column,
    max_dist: float | F.Column,
    half: bool = False,
) -> DataFrame:
    """Ordered pairs (focal != neighbor) within ``max_dist`` whose cells are
    within ring ``r`` — (focal, neighbor, *cols_f, *cols_n, dist).

    Both frames carry (id, *cols, cell_x, cell_y); ``key(cell_x, cell_y)``
    packs (possibly wrapped) cell indices into the join key, and ``dist``
    reads the _f / _n copies of ``cols``. ``max_dist`` is one radius for
    every pair (a float) or a Column over the focal's _f columns.

    HALF-RING + MIRROR (``half``, valid only when ``focal_pts`` is
    ``all_pts``): probe only the positive half of the ring — each cross-cell
    unordered pair meets on exactly one key, at half the join output of the
    full ring — and fan each matched row out to both ordered pairs IN THE
    SAME PASS (a native explode, not a union of two join subtrees: the join
    and the distance run once). Same-cell pairs already come out in both
    orders from the (0, 0) probe, so only cross-cell hits mirror. A float
    radius filters before the mirror (fewer rows to fan out); a per-focal
    one after it, so each focal is held to its own radius.
    """
    probed = focal_pts.withColumn("__o", F.explode(_ring(r, half))).select(
        *_ends("focal", cols),
        ((F.col("__o.dx") == 0) & (F.col("__o.dy") == 0)).alias("__same"),
        key(F.col("cell_x") + F.col("__o.dx"), F.col("cell_y") + F.col("__o.dy")).alias(
            "cell_probe"
        ),
    )
    right = all_pts.select(
        *_ends("neighbor", cols), key(F.col("cell_x"), F.col("cell_y")).alias("cell_r")
    )
    cand = (
        probed.join(right, probed.cell_probe == right.cell_r)
        .filter(F.col("focal") != F.col("neighbor"))
        .withColumn("dist", dist)
    )
    per_focal = isinstance(max_dist, F.Column)
    if not per_focal:
        cand = cand.filter(F.col("dist") <= F.lit(float(max_dist)))
    if half:
        both = cand.withColumn(
            "__m",
            F.explode(
                F.when(F.col("__same"), F.array(F.lit(0))).otherwise(
                    F.array(F.lit(0), F.lit(1))
                )
            ),
        )
        fwd = F.col("__m") == 0

        def pick(a: str, b: str) -> F.Column:
            return F.when(fwd, F.col(a)).otherwise(F.col(b))

        cand = both.select(
            pick("focal", "neighbor").alias("focal"),
            pick("neighbor", "focal").alias("neighbor"),
            *(pick(c + "_f", c + "_n").alias(c + "_f") for c in cols),
            *(pick(c + "_n", c + "_f").alias(c + "_n") for c in cols),
            "dist",
        )
    if per_focal:
        cand = cand.filter(F.col("dist") <= max_dist)
    return cand


def candidate_pairs(
    points: DataFrame, radius: float, cell_size: float | None = None, p: float = 2.0
) -> DataFrame:
    """All ordered pairs (focal != neighbor) within ``radius``, exactly once.

    One side keeps its own cell; the other is exploded to the covering half
    ring and mirrored (:func:`_ring_pairs`) — each qualifying pair meets on
    exactly one (probe_cell == cell) key, so no post-join dedup. Returns
    (focal, neighbor, x_f, y_f, x_n, y_n, dist). ``p``: Minkowski metric
    order; the ring cover stays valid for any p >= 1 because L_inf <= L_p,
    so points outside ring r are farther than r*s in every Minkowski metric.
    """
    s = float(cell_size or radius)
    # ring count r such that r*s >= radius (ceil)
    r = max(1, int(-(-radius // s)))
    # min_bytes_per_task=2048: the band join's work is quadratic in local
    # density, so even a tiny point table (the supplier fixtures) deserves a
    # full spread — bytes understate compute here.
    tagged = with_cells(
        ensure_min_parallelism(points.select(*POINT_COLS), min_bytes_per_task=2048), s
    )
    return _ring_pairs(tagged, tagged, r, ("x", "y"), pack_cell, _dist(p), radius, half=True)


def distance_band(
    points: DataFrame,
    threshold: float,
    binary: bool = True,
    alpha: float = -1.0,
    cell_size: float | None = None,
    p: float = 2.0,
) -> Graph:
    """DistanceBand weights (reference: weights/distance.py:748-1009).

    binary: w = 1 for d <= threshold; else w = d**alpha (inverse distance /
    gravity, reference :923-931). Isolates (no neighbor within threshold)
    become zero-weight self-loops, matching the reference's island handling.
    """
    pairs = candidate_pairs(points, threshold, cell_size, p)
    if binary:
        w = F.lit(1.0)
    else:
        w = F.pow(F.col("dist"), F.lit(float(alpha)))
    edges = pairs.select("focal", "neighbor", w.alias("weight"))
    return Graph(resolve_isolates(edges, points.select("id")))


def kernel_weights(
    points: DataFrame,
    bandwidth: float,
    kernel: str = "gaussian",
    taper: bool = True,
    cell_size: float | None = None,
    p: float = 2.0,
) -> Graph:
    """Kernel weights with fixed bandwidth (reference: graph/_kernel.py:38-261).

    Candidates come from the compact-support band join (d <= bandwidth when
    taper=True — the reference's sparse fast path, graph/_kernel.py:189-203);
    the kernel itself is a native SQL expression (functions/kernels.py).
    ``p``: Minkowski metric order for the distance (reference Kernel ``p``).
    """
    pairs = candidate_pairs(points, bandwidth, cell_size, p)
    w = kernel_expr(kernel, F.col("dist"), F.lit(float(bandwidth)), taper=taper)
    edges = pairs.select("focal", "neighbor", w.alias("weight"))
    return Graph(resolve_isolates(edges, points.select("id")))


def knn(
    points: DataFrame,
    k: int,
    cell_size: float | None = None,
    max_rounds: int = 5,
    p: float = 2.0,
) -> Graph:
    """K nearest neighbors, self excluded, binary weights."""
    tbl, info = _planar_knn(points, k, cell_size, max_rounds, p)
    edges = tbl.select("focal", "neighbor").withColumn("weight", F.lit(1.0))
    # r6: with n >= 2 points every focal resolves with >= 1 neighbor (ring
    # rounds guarantee >= k, the residue top-k of a non-empty cross join
    # keeps >= 1), so the isolate set is provably empty — skip the
    # anti-join branch (an ids exchange + a 10x-edge-count distinct per
    # action). The point count is the one this call's build counted.
    if info["n"] > 1:
        return Graph(edges)
    # persist=False: the kNN table is already checkpoint-backed per round —
    # re-reading those blocks for the isolate anti-join is cheaper than
    # materializing a second copy of the edge list
    return Graph(resolve_isolates(edges, points.select("id"), persist=False))


#: Diagnostics of the most recent planar knn_table build — {"rounds",
#: "residue", "cell_size", "n"}; rehearsal/bench scripts report it (VERDICT
#: r3 #1: ring-round count must be observable at scale). A report only: no
#: build reads it back, since a concurrent build may overwrite it.
last_knn_info: dict = {}


def knn_table(
    points: DataFrame,
    k: int,
    cell_size: float | None = None,
    max_rounds: int = 5,
    p: float = 2.0,
    with_bw: bool = False,
) -> DataFrame:
    """(focal, neighbor, dist) k-nearest-neighbor table.

    ``with_bw=True`` adds a ``__bw`` column — the focal's kth (max kept)
    neighbor distance. It is read off the tail of the per-focal sorted
    top-k array at explode time (r6 third pass), so callers that need the
    per-point bandwidth (adaptive_kernel) get it WITHOUT re-shuffling and
    re-sorting the n*k-row output through a window — the value is the same
    double the window max produced.

    Reference: weights/distance.py:33-164 / graph/_kernel.py:264-369 (KDTree
    ``query(k=k+1)``). Distributed strategy — ring expansion
    (:func:`_ring_knn`):

    1. bucket points into grid cells (heuristic size: expected ~2k points per
       (2r+1)^2 block);
    2. join each focal against candidates within Chebyshev ring r; keep top-k
       by (dist, neighbor) — the deterministic tie-break the reference leaves
       to kdtree order (weights/distance.py:71); we pin neighbor-id order for
       cluster-size-invariant output;
    3. a focal is *resolved* when it found >= k candidates with kth distance
       <= r*s (no unseen point can be closer — grid guarantee);
    4. unresolved foci (sparse regions) re-join with doubled ring; after
       ``max_rounds`` the residue is broadcast-cross-joined (it is tiny).

    Duplicate coordinates at web scale (coincident geocodes — the reference's
    coplanar problem, graph/_kernel.py:310-369): dist ties are simply ranked
    through deterministically, which matches the reference's 'clique'-style
    inclusion when k accommodates them.
    """
    return _planar_knn(points, k, cell_size, max_rounds, p, with_bw)[0]


def _planar_knn(
    points: DataFrame,
    k: int,
    cell_size: float | None = None,
    max_rounds: int = 5,
    p: float = 2.0,
    with_bw: bool = False,
) -> tuple[DataFrame, dict]:
    """:func:`knn_table` plus this build's {"rounds", "residue", "n",
    "cell_size"}."""
    pts = ensure_min_parallelism(points.select(*POINT_COLS))
    # ONE pass computes count + bounds together (r6: the separate count()
    # was a second full scan of the input before any real work started)
    stats = pts.agg(
        F.count("*").alias("n"),
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).first()
    n = stats["n"]
    if cell_size is None:
        area = max((stats.x1 - stats.x0) * (stats.y1 - stats.y0), 1e-12)
        density = max(n, 1) / area
        # E[kth-NN dist] ~ sqrt((k+1)/(pi*rho)); size the cell so the ring-1
        # guarantee (r*s = s) covers ~1.4x that — measured at sf0.1/k=10: the
        # resolve rate holds to 99.9% down to 1.2x and only cliffs at ~1.1x
        # (residue 59 @1.6x, 171 @1.4x, 33k @1.1x of 150k), while candidate
        # rows scale with the cell AREA: 1.6->1.4 cuts the round-1 join
        # volume 21% (4.22M->3.33M rows) for the same 2-round build (guide
        # §2.3 shuffle fewer bytes). The residue lands on the cheap ring-2
        # pass (25 probes x residue vs n candidates).
        import math

        cell_size = max(1.4 * math.sqrt((k + 1) / (math.pi * density)), 1e-9)
    s = float(cell_size)
    tbl, info = _ring_knn(
        with_cells(pts, s), int(n), k, ("x", "y"), pack_cell, _dist(p),
        lambda r: float(r) * s, max_rounds, with_bw=with_bw,
    )
    info["cell_size"] = s
    global last_knn_info
    last_knn_info = info
    return tbl, info


def _ring_knn(
    tagged: DataFrame,
    n: int,
    k: int,
    cols,
    key,
    dist: F.Column,
    guarantee,
    max_rounds: int,
    ring_cap: int | None = None,
    with_bw: bool = False,
) -> tuple[DataFrame, dict]:
    """The ring-expansion kNN loop shared by the planar and the arc metric.

    ``tagged`` holds the ``n`` points as (id, *cols, cell_x, cell_y);
    ``key(cx, cy)`` packs (possibly wrapped) cell indices into the join key;
    ``dist`` reads the _f / _n copies of ``cols``; ``guarantee(r)`` is the
    radius within which ring ``r`` has seen every point — a float (planar
    r·s) or a Column over the focal's _f columns (arc, per latitude). Rounds
    start at ring 1, double it, and run while r < ``ring_cap``. Returns the
    (focal, neighbor, dist[, __bw]) table and {"rounds", "residue", "n"}.

    Each round pre-filters candidates to the guarantee radius: a focal only
    resolves when its kth neighbor is within it, and for such foci the top-k
    among those candidates IS the global top-k — so farther candidates can't
    change any resolved answer and only inflate the top-k aggregate (the
    ring box covers ~3x the area of the circle).

    Round 1 is symmetric (every point is a focal), so it joins over the HALF
    ring and mirrors (:func:`_ring_pairs`) — half the join output and half
    the distance computations for the identical candidate set. Later rounds
    are asymmetric (unresolved ⊂ all) and probe the full ring.
    """
    tagged = tagged.persist()
    tops: list[DataFrame] = []
    unresolved = tagged
    n_unresolved = n
    r = 1
    rounds = 0
    while rounds < max_rounds and n_unresolved > 0 and (ring_cap is None or r < ring_cap):
        cand = _ring_pairs(
            unresolved, tagged, r, cols, key, dist, guarantee(r), half=rounds == 0
        )
        # hash-aggregate top-k (r6, guide §2.3 "aggregate before you
        # shuffle"): collect each focal's candidates into an array, sort,
        # slice k — replacing the row_number window, which hash-shuffled
        # every candidate row and then SORTED whole partitions. The struct
        # sort (dist, neighbor) is exactly the window's ORDER BY, so rows
        # and values are identical; per-group state is degree-bounded
        # (candidates are pre-filtered to the guarantee radius). A focal
        # resolves iff it found >= k candidates (all within the guarantee
        # by the pre-filter). ONE lazy localCheckpoint per round keeps the
        # per-focal arrays — one row per focal, k structs — for the output
        # and the anti-join below; its blocks live on the executors, not in
        # reliable storage, so a lost executor loses them with it.
        topk = (
            _topk(cand, k).withColumn("__ok", F.size("__nn") >= k)
        ).localCheckpoint(eager=False)
        # lazy checkpoint: the resolved-count below is a full scan and
        # materializes it in the same job (one job per round, not two)
        resolved = topk.filter(F.col("__ok"))
        tops.append(resolved.select("focal", "__nn"))
        # resolved focal count (a cheap agg on the checkpointed arrays)
        # replaces an anti-join + count over the full point table; the
        # anti-join is only built when a next round will actually run.
        n_unresolved -= resolved.count()
        if n_unresolved > 0:
            unresolved = unresolved.join(
                resolved.select(F.col("focal").alias("id")), "id", "left_anti"
            )
        r *= 2
        rounds += 1
    tagged.unpersist()

    if n_unresolved > 0:
        # residue: brute-force against all points; unresolved side is small →
        # broadcast it and let the full table stream past. The same top-k
        # aggregate ranks it; its buffers hold every candidate of a task
        # (residue × rows per task), which the residue's size keeps small.
        cand = (
            F.broadcast(unresolved.select(*_ends("focal", cols)))
            .crossJoin(tagged.select(*_ends("neighbor", cols)))
            .filter(F.col("focal") != F.col("neighbor"))
            .withColumn("dist", dist)
        )
        tops.append(_topk(cand, k))

    info = {"rounds": rounds, "residue": n_unresolved, "n": n}
    bw = ["__bw"] if with_bw else []
    if not tops:
        return tagged.sparkSession.createDataFrame(
            [], "focal long, neighbor long, dist double" + (", __bw double" if with_bw else "")
        ), info
    nn = tops[0]
    for part in tops[1:]:
        nn = nn.unionByName(part)
    return nn.select(
        "focal",
        F.explode("__nn").alias("__e"),
        F.element_at("__nn", -1).getField("dist").alias("__bw"),
    ).select(
        "focal",
        F.col("__e.neighbor").alias("neighbor"),
        F.col("__e.dist").alias("dist"),
        *bw,
    ), info


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """(focal, __nn): each focal's k nearest (dist, neighbor) structs, sorted."""
    return cand.groupBy("focal").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("dist", "neighbor"))), 1, k
        ).alias("__nn")
    )


def adaptive_kernel(
    points: DataFrame,
    k: int,
    kernel: str = "gaussian",
    taper: bool = True,
    fixed: bool = False,
    eps: float = 1.0000001,
) -> Graph:
    """Kernel weights with kNN-derived bandwidth.

    Reference: weights/distance.py:687-700 ``_set_bw`` / graph/_kernel.py
    bandwidth resolution — ``fixed=True``: one global bandwidth =
    eps * max kth-NN distance; ``fixed=False`` (adaptive): per-point
    bandwidth = own kth-NN distance.

    Known deviation: the adaptive bandwidth is the raw kth-NN distance. The
    reference's ``_set_bw`` also multiplies the adaptive bandwidths by
    ``eps``, so its kernel values differ from these in the last digits; a
    neighbor at exactly the kth distance gets kernel(1) here, kernel(1/eps)
    there. ``eps`` applies to ``fixed=True`` only.

    Candidates = the (k)-NN table itself (the reference evaluates the kernel
    over the same kNN candidate structure); the adaptive bandwidth comes off
    the tail of knn_table's per-focal sorted top-k array (``with_bw`` — r6
    third pass), so no window/exchange is added to the kNN build at all.
    """
    tbl, info = _planar_knn(points, k, with_bw=not fixed)
    if fixed:
        bw = F.lit(float(tbl.agg(F.max("dist")).first()[0]) * eps)
    else:
        bw = F.col("__bw")
    w = kernel_expr(kernel, F.col("dist"), bw, taper=taper)
    edges = tbl.select("focal", "neighbor", w.alias("weight"))
    # r6 third pass — same gate as knn(): with n >= 2 points every focal has
    # >= 1 kNN row, so the isolate set is provably empty; skip the anti-join
    # branch (an ids exchange + a distinct over the n*k-row table per action)
    if info["n"] > 1:
        return Graph(edges)
    return Graph(resolve_isolates(edges, points.select("id")))


def optimize_bandwidth(
    points: DataFrame, k: int = 10, kernel: str = "gaussian", sample: int = 50_000
) -> float:
    """Entropy-maximizing bandwidth (reference: graph/_kernel.py:412-435).

    The reference runs scipy ``minimize_scalar`` over the candidate-distance
    array; here the distance sample is collected from the kNN table (bounded
    size — at most sample rows leave the cluster) and the 1-D bounded
    optimization is a golden-section search in numpy (public algorithm; no
    scipy in this environment). Loss = negative entropy of the histogram of
    kernel values, sqrt(n) bins over [0, 1], matching the reference.
    """
    import math

    import numpy as np

    tbl = knn_table(points, k)
    # deterministic bounded sample: TakeOrdered, not an arbitrary limit()
    d = np.array(
        [r.dist for r in tbl.orderBy("focal", "neighbor").limit(sample).collect()]
    )
    if len(d) == 0:
        return 1.0
    n_bins = max(int(math.isqrt(points.count())), 2)

    def kfun(dist, bw):
        z = np.clip(np.abs(dist) / bw, 0, 1)
        if kernel == "gaussian":
            zr = dist / bw
            return (1 / math.sqrt(2 * math.pi)) * np.exp(-0.5 * zr * zr)
        if kernel == "triangular":
            return 1 - z
        if kernel == "bisquare":
            return (15 / 16) * (1 - z**2) ** 2
        if kernel == "exponential":
            return np.exp(-dist / bw)
        raise ValueError(kernel)

    def loss(bw):
        ku = kfun(d, bw)
        bins, _ = np.histogram(ku, bins=n_bins, range=(0, 1))
        p = bins / bins.sum()
        nz = p[p > 0]
        return float((nz * np.log(nz)).sum())  # negative entropy

    lo, hi = 1e-9, float(d.max()) * 2.0
    phi = (math.sqrt(5) - 1) / 2
    a, b = lo, hi
    c1, c2 = b - phi * (b - a), a + phi * (b - a)
    f1, f2 = loss(c1), loss(c2)
    for _ in range(80):
        if f1 < f2:
            b, c2, f2 = c2, c1, f1
            c1 = b - phi * (b - a)
            f1 = loss(c1)
        else:
            a, c1, f1 = c1, c2, f2
            c2 = a + phi * (b - a)
            f2 = loss(c2)
    return (a + b) / 2


def unique_site_cliques(
    points: DataFrame,
    k: int,
    salt: int = 8,
    max_clique: int | None = None,
    on_overflow: str = "raise",
) -> Graph:
    """kNN with coincident-point 'clique' handling — skew-hardened.

    Reference: graph/_kernel.py:310-369 + graph/_utils.py:65-126
    ``_induce_cliques`` — web-scale geocodes collide (many pages -> one
    point). Strategy: collapse to unique sites (min id is the site rep),
    run kNN over sites, then (a) expand site-site edges to all member pairs
    and (b) connect co-located members as a clique.

    Scale hardening (SURVEY §7 giant-clique hazard — one datacenter IP ->
    millions of pages at one geocode):

    * The clique self-join routes through :func:`plans.skew.salted_self_join`
      so no single shuffle key carries a whole hot site's pair set (AQE
      cannot split one build-side key; salting can). Output is identical to
      the plain join — deterministic xxhash64 salt, tested.
    * ``max_clique`` bounds per-site quadratic blow-up, mirroring the
      reference's coplanar policy set (``'raise'``/``'jitter'``/``'clique'``,
      graph/_kernel.py:310-369) with an overflow policy:

      - ``on_overflow='raise'`` (default): error naming the worst site, so a
        hot geocode is a loud data-quality signal, not a silent OOM.
      - ``on_overflow='sample'``: at overflow sites a deterministic
        (md5-ordered) core of ``max_clique`` members forms the clique and
        represents the site in the kNN expansion; every non-core member gets
        a symmetric star edge to the site's first core member. Edges per
        overflow site drop from O(cnt^2) to O(max_clique^2 + cnt) while the
        component stays connected.

    ``max_clique=None`` preserves the exact reference semantics (full
    cliques, full expansion) — still salted.
    """
    if on_overflow not in ("raise", "sample"):
        raise ValueError(f"on_overflow must be 'raise' or 'sample', got {on_overflow!r}")
    # lazy checkpoints (r6 third pass): ``sites`` feeds the member join AND
    # the site-kNN input; ``members`` feeds the two expansion sides, the
    # clique self-join and the overflow ranking — without the cut each
    # consumer re-runs the groupBy + join subtree
    sites = points.groupBy("x", "y").agg(F.min("id").alias("site")).localCheckpoint(
        eager=False
    )
    members = (
        points.join(sites, ["x", "y"]).select("id", "site", "x", "y")
        .localCheckpoint(eager=False)
    )

    if max_clique is not None:
        wnd = Window.partitionBy("site").orderBy(
            F.md5(F.concat_ws("|", F.col("site"), F.col("id"))), "id"
        )
        ranked = members.withColumn("__rk", F.row_number().over(wnd))
        counts = members.groupBy("site").agg(F.count("*").alias("__cnt"))
        if on_overflow == "raise":
            worst = (
                counts.filter(F.col("__cnt") > max_clique)
                .orderBy(F.desc("__cnt"))
                .limit(1)
                .collect()
            )
            if worst:
                raise ValueError(
                    f"coincident site {worst[0]['site']} has {worst[0]['__cnt']} "
                    f"members > max_clique={max_clique}; pass "
                    "on_overflow='sample' or jitter the points (knn_jitter)"
                )
            clique_members = members
        else:
            clique_members = ranked.filter(F.col("__rk") <= max_clique).select(
                "id", "site", "x", "y"
            )
    else:
        clique_members = members

    site_pts = sites.select(F.col("site").alias("id"), "x", "y")
    gsite = knn_table(site_pts, k).select(
        F.col("focal").alias("fsite"), F.col("neighbor").alias("nsite")
    )
    mf = clique_members.select(F.col("site").alias("fsite"), F.col("id").alias("focal"))
    mn = clique_members.select(
        F.col("site").alias("nsite"), F.col("id").alias("neighbor")
    )
    expanded = gsite.join(mf, "fsite").join(mn, "nsite").select("focal", "neighbor")
    cliques = salted_self_join(
        clique_members.select("site", "id"), "site", "id", salt=salt
    )
    edges = expanded.unionByName(cliques)

    if max_clique is not None and on_overflow == "sample":
        # symmetric star: non-core member <-> first core member of its site
        head = ranked.filter(F.col("__rk") == 1).select(
            "site", F.col("id").alias("__head")
        )
        tail = (
            ranked.filter(F.col("__rk") > max_clique)
            .select("site", F.col("id").alias("__m"))
            .join(head, "site")
        )
        star = tail.select(
            F.col("__m").alias("focal"), F.col("__head").alias("neighbor")
        ).unionByName(
            tail.select(F.col("__head").alias("focal"), F.col("__m").alias("neighbor"))
        )
        edges = edges.unionByName(star)

    edges = edges.distinct().withColumn("weight", F.lit(1.0))
    return Graph(resolve_isolates(edges, points.select("id")))


def jitter_points(points: DataFrame, magnitude: float, seed: int = 0) -> DataFrame:
    """Deterministic seeded displacement of coincident-prone coordinates.

    Reference: graph/_utils.py:65-95 ``_jitter_geoms`` (numpy RNG). The RNG is
    replaced by a pure function of (seed, id) — md5-derived uniforms in
    [-magnitude, magnitude] — so the jitter is reproducible across cluster
    sizes, engines, and re-runs (north_rule invariance), and the DuckDB
    oracle can replay it exactly.
    """

    def h(tag: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:{tag}:"), F.col("id").cast("string"))), 1, 15
            ),
            16, 10,
        ).cast("long")

    m = F.lit(float(magnitude))
    dx = (h("x") % 2000001 - 1000000) / F.lit(1000000.0) * m
    dy = (h("y") % 2000001 - 1000000) / F.lit(1000000.0) * m
    return points.select(
        "id", (F.col("x") + dx).alias("x"), (F.col("y") + dy).alias("y")
    )


def knn_jitter(
    points: DataFrame, k: int, magnitude: float, seed: int = 0, **kw
) -> Graph:
    """kNN under the 'jitter' coplanar policy (graph/_utils.py:97-126):
    coincident sites are displaced (deterministically, see jitter_points)
    before the kNN build, so ties never exceed k. Alternative to the
    'clique' policy in unique_site_cliques."""
    return knn(jitter_points(points, magnitude, seed), k, **kw)


def attach_islands(g: Graph, points: DataFrame) -> Graph:
    """Connect each island to its nearest neighbor, symmetrically, weight 1.

    Reference: weights/util.py:1297-1344 — island gets its 1-NN as neighbor
    AND is appended to that neighbor's list (both directions, weight 1.0).
    """
    islands = g.islands().withColumnRenamed("id", "focal")
    nn = knn_table(points, 1).join(islands, "focal", "left_semi").select(
        "focal", "neighbor"
    )
    # distinct: two mutually-nearest islands would otherwise add both
    # directions twice
    new_edges = (
        nn.unionByName(
            nn.select(F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor"))
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    kept = g.edges.filter(
        ~((F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0))
    )
    return Graph(resolve_isolates(kept.unionByName(new_edges), points.select("id")))


def min_threshold_distance(points: DataFrame) -> float:
    """Max over nodes of 1st-NN distance (reference: weights/util.py:1106-1144).

    r6 third pass: reads the distance straight off the 1-NN table instead of
    rebuilding a Graph and re-joining the point table twice to recompute it —
    the table's ``dist`` is the same ``_dist`` expression over the same
    doubles, so the max is bit-identical (oracle-verified)."""
    row = knn_table(points, 1).agg(F.max("dist")).first()
    return row[0]
