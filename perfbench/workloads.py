"""Seeded inputs, jobs and output checks of the three benchmark workloads.

A job is one closed-loop request. Each call into an engine module runs inside
``spans.span("<module>.<function>")``, which tags the Spark jobs it starts
with a job group so the traced run can attribute them. Work a lazy call
defers runs in the span of the call that consumes its result (the kernel
edges are computed inside the lineage write).

Inputs are made with numpy from the run's seed and written to parquet during
set-up; the engine only ever reads those files. Checks run after the timed
window and compare against numpy brute force or closed-form answers.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

K = 10
SAMPLE = 200
TILE_TYPES = ("knn", "kernel", "queen", "pip", "dedup")
RECALL_MIN = 0.9
# mesh_clustered's partitioned Delaunay grid: a 4x4 build costs 13-20 s a
# job at 4 cores, too long to time several jobs in one run.
MESH_CELLS = 2
# mesh_clustered draws its layout (cluster points and background) from a
# fixed seed; the run's seed jitters every point and reorders the rows.
# Whether the build needs a witness round depends on the layout: fully
# seeded layouts took one on some seeds and none on others, which moved
# delaunay's time by ~40%. This layout takes one on every seed tried.
MESH_LAYOUT_SEED = 103
MESH_JITTER = 1e-4

# full / smoke sizes
SIZES = {
    "weights_bulk": {"full": {"n": 10_000}, "smoke": {"n": 800}},
    "mesh_clustered": {"full": {"n": 600}, "smoke": {"n": 300}},
    "tile_requests": {
        "full": {"n": 600, "side": 24, "docs": 250, "planted": 25},
        "smoke": {"n": 300, "side": 10, "docs": 100, "planted": 10},
    },
}


class Spans:
    """Wall-clock spans around engine calls, each with its own Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.records: list[dict] = []
        self.job = None  # index of the timed job, None while untimed
        self.sc.setJobGroup("pb-none", "perfbench")

    @contextmanager
    def span(self, call: str):
        rec = {"call": call, "group": f"pb-{len(self.records)}", "job": self.job, "rows": None}
        self.sc.setJobGroup(rec["group"], call)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.setJobGroup("pb-none", "perfbench")
            self.records.append(rec)


@dataclass
class Inputs:
    files: dict
    rows_per_job: list  # input rows a job reads: one entry, or one per request
    props: dict
    arrays: dict = field(default_factory=dict)  # numpy copies for the checks


def _write_points(path: str, xy: np.ndarray) -> None:
    pq.write_table(
        pa.table({"id": np.arange(len(xy), dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}),
        path,
    )


def _write_values(path: str, y: np.ndarray) -> None:
    pq.write_table(pa.table({"id": np.arange(len(y), dtype=np.int64), "y": y}), path)


def _write_lattice(path: str, side: int) -> None:
    ids = np.arange(side * side, dtype=np.int64)
    gx, gy = (ids % side).astype(float), (ids // side).astype(float)
    corners = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
    xs = np.stack([gx + dx for dx, _ in corners], axis=1).ravel()
    ys = np.stack([gy + dy for _, dy in corners], axis=1).ravel()
    verts = pa.StructArray.from_arrays([pa.array(xs), pa.array(ys)], names=["x", "y"])
    rings = pa.ListArray.from_arrays(pa.array(np.arange(0, len(xs) + 1, 5, dtype=np.int32)), verts)
    pq.write_table(pa.table({"id": ids, "vertices": rings}), path)


def candidate_factor(xy: np.ndarray, k: int = K) -> float:
    """Round-1 kNN candidate rows relative to a uniform set of equal n.

    Grids the extent into cells holding ~k points at uniform density and sums
    count(cell) * count(3x3 block around it) — the ring-1 candidate volume.
    """
    lo, hi = xy.min(axis=0), xy.max(axis=0)
    n = len(xy)
    side = max(1, int(np.sqrt(n / k)))
    cell = np.floor((xy - lo) / ((hi - lo) / side + 1e-12)).astype(int).clip(0, side - 1)
    grid = np.zeros((side + 2, side + 2))
    np.add.at(grid, (cell[:, 0] + 1, cell[:, 1] + 1), 1)
    block = sum(np.roll(np.roll(grid, dx, 0), dy, 1) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    uniform = n * 9 * (n / side**2)
    return float((grid * block).sum() / uniform)


def clustered_points(rng, n, background, clusters, sd, dup_frac=0.0, extent=1.0):
    """Uniform background + Gaussian clusters + exact-duplicate coordinates.

    The cluster centres are fixed (a low-discrepancy R2 sequence), so every
    seed has the same hot cells and draws only the points: the round
    structure of the builds does not change from seed to seed.
    """
    n_dup = int(n * dup_frac)
    n_bg = int((n - n_dup) * background)
    n_cl = n - n_dup - n_bg
    r2 = np.outer(np.arange(1, clusters + 1), [0.7548776662, 0.5698402910]) % 1.0
    centers = (0.15 + 0.7 * r2) * extent
    xy = np.vstack(
        [
            rng.uniform(0, extent, (n_bg, 2)),
            centers[rng.integers(0, clusters, n_cl)] + rng.normal(0, sd * extent, (n_cl, 2)),
        ]
    )
    xy = np.vstack([xy, xy[rng.integers(0, len(xy), n_dup)]])
    return xy[rng.permutation(n)]


def _docs(rng, n_docs, planted, length=120, vocab=4000):
    """Random token documents; ``planted`` pairs differ in a single token."""
    words = np.array([f"t{i}" for i in range(vocab)])
    toks = rng.integers(0, vocab, (n_docs, length))
    pairs = []
    src = rng.choice(n_docs // 2, planted, replace=False)
    dst = n_docs // 2 + rng.choice(n_docs - n_docs // 2, planted, replace=False)
    for a, b in zip(src, dst):
        toks[b] = toks[a]
        toks[b, rng.integers(0, length)] = rng.integers(0, vocab)
        pairs.append((int(min(a, b)), int(max(a, b))))
    text = [" ".join(words[row]) for row in toks]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": text}), pairs


def _md5(*frames) -> str:
    h = hashlib.md5()
    for f in frames:
        h.update(pd.util.hash_pandas_object(f, index=False).values.tobytes())
    return h.hexdigest()


def _sorted(pdf: pd.DataFrame, keys) -> pd.DataFrame:
    return pdf.sort_values(list(keys), kind="mergesort").reset_index(drop=True)


def _dist_rows(xy: np.ndarray, rows: np.ndarray) -> np.ndarray:
    d = xy[None, :, :] - xy[rows][:, None, :]
    return np.sqrt((d**2).sum(axis=2))


def _check_knn_lag(xy, y, sample, nbrs: dict, lag: pd.Series, k: int) -> list[str]:
    """Neighbour sets against brute force (tie-tolerant) and lag = mean y."""
    errs = []
    dist = _dist_rows(xy, sample)
    for row, i in enumerate(sample):
        d = dist[row].copy()
        d[i] = np.inf
        kth = np.sort(d)[k - 1]
        got = np.asarray(sorted(nbrs.get(int(i), [])), dtype=np.int64)
        if len(got) != k or i in got:
            errs.append(f"knn focal {i}: {len(got)} neighbours")
            continue
        if not np.allclose(np.sort(d[got]), np.sort(d)[:k], rtol=0, atol=1e-12 + 1e-12 * kth):
            errs.append(f"knn focal {i}: neighbour distances differ from brute force")
        want = y[got].mean()
        if not np.isclose(lag.get(int(i), np.nan), want, rtol=1e-9, atol=1e-12):
            errs.append(f"lag focal {i}: {lag.get(int(i))} != {want}")
    return errs[:5]


# -- weights: knn -> R -> lag, kernel -> lineage write ----------------------


def weights_inputs(rng, prefix: str, n: int):
    """Clustered points with 3% exact-duplicate coordinates, values y, and the
    kernel bandwidth. At 10k points round-1 kNN candidate rows are ~5x those
    of a uniform set; at tile size the clusters are too small to matter."""
    xy = clustered_points(rng, n, background=0.3, clusters=12, sd=0.01, dup_frac=0.03, extent=100.0)
    y = rng.normal(size=n)
    files = {"points": f"{prefix}_points.parquet", "y": f"{prefix}_y.parquet", "out": f"{prefix}_kernel"}
    _write_points(files["points"], xy)
    _write_values(files["y"], y)
    # ~4 neighbours per point at the mean density; the clusters are hot cells
    bw = float(np.sqrt(4 * 100.0**2 / (np.pi * n)))
    props = {"points": n, "k": K, "bandwidth": bw, "candidate_factor": round(candidate_factor(xy), 3),
             "duplicate_frac": 0.03}
    return files, props, {"xy": xy, "y": y, "bw": bw}


def knn_job(spark, files, spans) -> dict:
    """knn(k=10) -> transform R -> lag: the first half of the
    jobs/build_weights.py shape."""
    from libpysal_spark.operators.distance import knn

    pts = spark.read.parquet(files["points"])
    y = spark.read.parquet(files["y"])
    with spans.span("distance.knn") as s:
        g = knn(pts, K)
    with spans.span("graph.transform"):
        r = g.transform("R")
    with spans.span("graph.lag"):
        lag = r.lag(y).toPandas()
    lag = _sorted(lag, ["id"])
    return {"md5": _md5(lag), "graph": r, "lag": lag, "knn": g, "knn_span": s}


def kernel_job(spark, files, arrays, spans) -> dict:
    """Gaussian kernel edges written through the lineage writer: the second
    half of the jobs/build_weights.py shape."""
    from pyspark.sql import functions as F

    from libpysal_spark.operators.distance import kernel_weights
    from libpysal_spark.plans.lineage import write_with_lineage

    pts = spark.read.parquet(files["points"])
    with spans.span("distance.kernel_weights") as ks:
        kg = kernel_weights(pts, arrays["bw"], "gaussian")
    with spans.span("lineage.write_with_lineage"):
        edges = kg.edges.withColumn("bucket", F.pmod(F.xxhash64("focal"), F.lit(16)))
        manifest = write_with_lineage(edges, files["out"], "bucket", mode="overwrite")
    parts = pd.DataFrame(
        [(int(k), v["rows"], v["checksum"]) for k, v in manifest["partitions"].items()],
        columns=["bucket", "rows", "checksum"],
    )
    ks["rows"] = int(parts["rows"].sum())
    return {"md5": _md5(_sorted(parts, ["bucket"]))}


def weights_job(spark, files, arrays, spans) -> dict:
    """The whole jobs/build_weights.py shape: knn -> R -> lag, then kernel
    edges through the lineage writer."""
    out = knn_job(spark, files, spans)
    out["md5"] += kernel_job(spark, files, arrays, spans)["md5"]
    return out


def count_knn_rows(out) -> None:
    """The knn span's useful output: the edges the call produced, counted
    after the timed window from its checkpointed rounds."""
    out["knn_span"]["rows"] = out["knn"].edges.count()


def knn_check(spark, arrays, out, rng) -> list[str]:
    """kNN sets and lag against brute force on a sample, R rows sum to 1."""
    from pyspark.sql import functions as F

    xy, yv = arrays["xy"], arrays["y"]
    n = len(xy)
    sample = rng.choice(n, min(SAMPLE, n), replace=False)
    r = out["graph"]
    e = r.edges.filter(F.col("focal").isin([int(i) for i in sample])).toPandas()
    nbrs = e.groupby("focal")["neighbor"].apply(list).to_dict()
    errs = _check_knn_lag(xy, yv, sample, nbrs, out["lag"].set_index("id")["lag"], K)
    wsum = r.edges.groupBy("focal").agg(F.sum("weight").alias("s")).toPandas()
    if len(wsum) != n or not np.allclose(wsum["s"], 1.0, rtol=0, atol=1e-9):
        errs.append("R rows do not sum to 1")
    return errs


def kernel_check(spark, files, arrays, rng) -> list[str]:
    """Kernel edge counts against brute force on a sample, read back from
    the lineage write."""
    from pyspark.sql import functions as F

    xy, bw = arrays["xy"], arrays["bw"]
    sample = rng.choice(len(xy), min(SAMPLE, len(xy)), replace=False)
    ke = spark.read.parquet(files["out"]).filter(F.col("focal").isin([int(i) for i in sample])).toPandas()
    got = ke[ke.focal != ke.neighbor].groupby("focal").size()
    loops = set(ke[(ke.focal == ke.neighbor) & (ke.weight == 0.0)].focal)
    dist = _dist_rows(xy, sample)
    for row, i in enumerate(sample):
        want = int((np.delete(dist[row], i) <= bw).sum())
        have = int(got.get(int(i), 0))
        if have != want or (want == 0) != (int(i) in loops):
            return [f"kernel focal {i}: {have} edges, brute force {want}"]
    return []


class WeightsBulk:
    """The weights job, repeated on one clustered point set."""

    def make_inputs(self, rng, root, size) -> Inputs:
        files, props, arrays = weights_inputs(rng, os.path.join(root, "bulk"), size["n"])
        return Inputs(files, [2 * size["n"]], props, arrays)

    def rows(self, inp, i):
        return inp.rows_per_job[0]

    def job(self, spark, inp, i, spans):
        return weights_job(spark, inp.files, inp.arrays, spans)

    def check(self, spark, inp, reference, outputs, rng) -> dict:
        """Content checks on the warm-up job's output (the kernel edges on
        disk are the last job's); every timed job's md5 must match it."""
        for o in outputs:
            count_knn_rows(o)
        errs = knn_check(spark, inp.arrays, reference[0], rng)
        errs += kernel_check(spark, inp.files, inp.arrays, rng)
        return _md5_verdict(reference[0], outputs, errs)


def _md5_verdict(ref, outputs, errs) -> dict:
    """Failed timed-job indices: all if the warm-up output failed its
    content checks, else the jobs whose output md5 differs from it."""
    bad = [j for j, o in enumerate(outputs) if o["md5"] != ref["md5"]]
    failed = list(range(len(outputs))) if errs else bad
    if bad:
        errs = errs + [f"output md5 differs from the warm-up job's in jobs {bad}"]
    return {"failed": failed, "errors": errs}


# -- mesh_clustered -------------------------------------------------------


class MeshClustered:
    """Partitioned Delaunay (MESH_CELLS x MESH_CELLS) -> local_clustering,
    component_labels; plus gabriel, on a clustered point set without
    duplicates."""

    def make_inputs(self, rng, root, size) -> Inputs:
        n = size["n"]
        layout = clustered_points(np.random.default_rng(MESH_LAYOUT_SEED), n, background=0.2, clusters=4, sd=0.01)
        xy = (layout + rng.uniform(-MESH_JITTER, MESH_JITTER, layout.shape))[rng.permutation(n)]
        files = {"points": os.path.join(root, "mesh_points.parquet")}
        _write_points(files["points"], xy)
        props = {"points": n, "cells_per_side": MESH_CELLS, "layout_seed": MESH_LAYOUT_SEED, "jitter": MESH_JITTER,
                 "candidate_factor": round(candidate_factor(xy), 3)}
        return Inputs(files, [n], props, {"xy": xy})

    def rows(self, inp, i):
        return inp.rows_per_job[0]

    def job(self, spark, inp, i, spans):
        from libpysal_spark.operators.delaunay import delaunay
        from libpysal_spark.operators.triangulation import gabriel

        pts = spark.read.parquet(inp.files["points"])
        with spans.span("delaunay.delaunay") as s:
            g = delaunay(pts, cells_per_side=MESH_CELLS)
            d = g.edges.toPandas()
            s["rows"] = len(d)
        with spans.span("graph.local_clustering"):
            lc = g.local_clustering().toPandas()
        with spans.span("graph.component_labels"):
            cl = g.component_labels().toPandas()
        with spans.span("triangulation.gabriel"):
            ge = gabriel(pts).edges.toPandas()
        d, lc, cl, ge = (
            _sorted(d, ["focal", "neighbor"]),
            _sorted(lc, ["id"]),
            _sorted(cl, ["id"]),
            _sorted(ge, ["focal", "neighbor"]),
        )
        return {"md5": _md5(d, lc, cl, ge), "d": d, "lc": lc, "cl": cl, "ge": ge}

    def check(self, spark, inp, reference, outputs, rng) -> dict:
        """Content checks on the warm-up job's output; every timed job's md5
        must match it."""
        o = reference[0]
        n = len(inp.arrays["xy"])
        errs = []
        d = o["d"][o["d"].focal != o["d"].neighbor]
        pairs = set(zip(d.focal.tolist(), d.neighbor.tolist()))
        if any((b, a) not in pairs for a, b in pairs):
            errs.append("delaunay edges are not symmetric")
        und = len(pairs) // 2
        if not (n - 1 <= und <= 3 * n - 6):
            errs.append(f"delaunay has {und} edges, outside [n-1, 3n-6] for n={n}")
        ge = o["ge"][o["ge"].focal != o["ge"].neighbor]
        if not set(zip(ge.focal.tolist(), ge.neighbor.tolist())) <= pairs:
            errs.append("gabriel is not a subset of delaunay")
        if len(o["cl"]) != n or o["cl"]["component"].nunique() != 1:
            errs.append(f"{o['cl']['component'].nunique()} components, expected 1")
        nb = d.groupby("focal")["neighbor"].apply(set).to_dict()
        lc = o["lc"].set_index("id")["clustering"]
        for i in rng.choice(n, min(SAMPLE, n), replace=False):
            ns = nb.get(int(i), set())
            k = len(ns)
            t = sum(1 for a in ns for b in ns if a != b and (a, b) in pairs)
            want = t / (k * (k - 1)) if k > 1 else 0.0
            if not np.isclose(lc.get(int(i), np.nan), want, rtol=1e-12, atol=0):
                errs.append(f"local_clustering {i}: {lc.get(int(i))} != {want}")
                break
        return _md5_verdict(o, outputs, errs)


# -- tile_requests --------------------------------------------------------


class TileRequests:
    """A stream of small requests, round-robin over five types, each on its
    own input files generated at set-up and never reused within a run.

    The number of types is odd, so the median of whole rounds falls inside
    one type's latencies rather than in the gap between two."""

    def __init__(self, requests: int):
        self.requests = requests

    def make_inputs(self, rng, root, size) -> Inputs:
        n, side = size["n"], size["side"]
        files, rows, arrays = {}, [], {}
        for i in range(self.requests):
            kind = TILE_TYPES[i % len(TILE_TYPES)]
            base = os.path.join(root, f"req{i:04d}")
            if kind in ("knn", "kernel"):
                files[i], _, arrays[i] = weights_inputs(rng, base, n)
                rows.append(2 * n if kind == "knn" else n)
            elif kind == "queen":
                files[i] = {"lattice": f"{base}_lattice.parquet"}
                _write_lattice(files[i]["lattice"], side)
                rows.append(side * side)
            elif kind == "pip":
                # uniform over the lattice, so each point's cell is closed-form
                xy = rng.uniform(0, side, (n, 2))
                files[i] = {"points": f"{base}_points.parquet", "lattice": f"{base}_lattice.parquet"}
                _write_points(files[i]["points"], xy)
                _write_lattice(files[i]["lattice"], side)
                arrays[i] = {"xy": xy}
                rows.append(side * side + n)
            else:
                docs, planted = _docs(rng, size["docs"], size["planted"])
                files[i] = {"docs": f"{base}_docs.parquet"}
                pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), files[i]["docs"])
                arrays[i] = {"planted": planted}
                rows.append(len(docs))
        props = {"requests_prepared": self.requests, "tile_points": n, "lattice_side": side,
                 "docs": size["docs"], "planted_pairs": size["planted"], "types": list(TILE_TYPES)}
        return Inputs(files, rows, props, arrays)

    def rows(self, inp, i):
        return inp.rows_per_job[i]

    def job(self, spark, inp, i, spans):
        from libpysal_spark.operators.contiguity import queen
        from libpysal_spark.operators.pip import pip_join
        from libpysal_spark.text import dedup

        f = inp.files[i]
        kind = TILE_TYPES[i % len(TILE_TYPES)]
        if kind == "knn":
            out = knn_job(spark, f, spans)
        elif kind == "kernel":
            out = kernel_job(spark, f, inp.arrays[i], spans)
        elif kind == "queen":
            poly = spark.read.parquet(f["lattice"])
            with spans.span("contiguity.queen"):
                out = {"edges": queen(poly).edges.toPandas()}
        elif kind == "pip":
            pts = spark.read.parquet(f["points"])
            poly = spark.read.parquet(f["lattice"])
            with spans.span("pip.pip_join"):
                out = {"pairs": pip_join(pts, poly, 2.0).toPandas()}
        else:
            docs = spark.read.parquet(f["docs"])
            with spans.span("dedup.minhash_candidates") as s:
                out = {"minhash": dedup.minhash_candidates(docs).toPandas()}
                s["rows"] = len(out["minhash"])
            with spans.span("dedup.simhash_near_pairs"):
                out["simhash"] = dedup.simhash_near_pairs(dedup.simhash(docs)).toPandas()
        out.update(kind=kind, index=i)
        return out

    def check_one(self, spark, inp, out, side, rng) -> list[str]:
        kind, i = out["kind"], out["index"]
        if kind == "knn":
            count_knn_rows(out)
            return knn_check(spark, inp.arrays[i], out, rng)
        if kind == "kernel":
            return kernel_check(spark, inp.files[i], inp.arrays[i], rng)
        if kind == "queen":
            e = out["edges"]
            got = set(zip(e.focal.tolist(), e.neighbor.tolist()))
            want = {
                (gy * side + gx, (gy + dy) * side + gx + dx)
                for gy in range(side)
                for gx in range(side)
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if (dx or dy) and 0 <= gx + dx < side and 0 <= gy + dy < side
            }
            return [] if got == want else [f"queen: {len(got ^ want)} edges differ from the lattice"]
        if kind == "pip":
            xy = inp.arrays[i]["xy"]
            want = (np.floor(xy[:, 1]) * side + np.floor(xy[:, 0])).astype(np.int64)
            p = _sorted(out["pairs"], ["point_id"])
            ok = len(p) == len(xy) and (p.point_id.values == np.arange(len(xy))).all() and (
                p.polygon_id.values == want
            ).all()
            return [] if ok else ["pip_join differs from the lattice cells"]
        planted = inp.arrays[i]["planted"]
        errs = []
        for name in ("minhash", "simhash"):
            got = set(zip(out[name].doc_a.tolist(), out[name].doc_b.tolist()))
            recall = sum(p in got for p in planted) / len(planted)
            if recall < RECALL_MIN:
                errs.append(f"{name} recall {recall:.2f} < {RECALL_MIN}")
        return errs

    def check(self, spark, inp, reference, outputs, rng) -> dict:
        """Every timed request against its own brute-force or closed-form
        answer; inputs differ per request, so there is no md5 to compare
        and the warm-up requests are no reference."""
        side = inp.props["lattice_side"]
        failed, errs = [], []
        for j, out in enumerate(outputs):
            e = self.check_one(spark, inp, out, side, rng)
            if e:
                failed.append(j)
                errs += e
        return {"failed": failed, "errors": errs}
