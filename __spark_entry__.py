"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is a libpysal operator (SURVEY.md §2) or a
training-data-pipeline operator re-expressed Spark-first; ``oracle_sql()``
holds an *independent* ANSI-SQL derivation of the same semantics for DuckDB.

Portability rules shared by both sides (see libpysal_spark.pages /
functions.kernels):
- geocoding & tiling are pure modular arithmetic (bit-identical doubles);
- distances use mul/add/sqrt only (IEEE correctly-rounded → identical);
- hashes are md5-hex-prefix → bigint (identical algorithm both engines);
- every non-exact float output column is round(x, 6) on both sides;
- DuckDB numeric literals are cast to DOUBLE/BIGINT explicitly (DuckDB
  defaults to DECIMAL/INT128, which would break schema comparison).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the engine importable regardless of the driver's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libpysal_spark.functions.detagg import (
    det_sum,
    det_sum_sql,
    portable_round,
    portable_round_sql,
)
from libpysal_spark.functions.kernels import kernel_sql
from libpysal_spark.graph import Graph
from libpysal_spark.operators.contiguity import block_weights, queen, rook
from libpysal_spark.operators.distance import (
    adaptive_kernel,
    distance_band,
    kernel_weights,
    knn,
    knn_table,
    unique_site_cliques,
)
from libpysal_spark.operators.pip import pip_join
from libpysal_spark.operators.raster import raster_contiguity
from libpysal_spark.operators.spint import netw, odw, vecw
from libpysal_spark.operators.triangulation import gabriel, relative_neighborhood
from libpysal_spark.operators.lattice import lattice_polygons
from libpysal_spark.functions.sphere import arc_knn
from libpysal_spark.pages import geocode_exprs, geocode_sql, pages
from libpysal_spark.text import dedup as D
from libpysal_spark.text import quality as Q
from libpysal_spark.text.ann import cosine_topk

# ----------------------------------------------------------------------------
# tuning constants (shared between spark queries and oracle SQL)
BAND_T = 12.0          # distance-band threshold on orders points
KERNEL_BW = 15.0       # kernel bandwidth on orders points
CUST_BAND_T = 20.0     # band threshold on customer points (has isolates)
KNN_K = 5
PIP_CELL = 4.0
SRP_PLANES = 4         # SRP-LSH planes per table (embedding_near_dup_srp)
SRP_TABLES = 6         # SRP-LSH tables
SRP_SEED = 7
TRI_CELLS = 4          # graded triangulation: partitioned, halo-verified path
NGRAM_MAX_DF = 50      # drop shingles in > this many docs (skew guard, both sides)

KEYS = {"orders": "o_orderkey", "customer": "c_custkey", "supplier": "s_suppkey"}


# ----------------------------------------------------------------------------
# spark-side input helpers
def _points(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    key = KEYS[table]
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    x, y = geocode_exprs(key)
    return df.select(F.col(key).alias("id"), x.alias("x"), y.alias("y"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _lattice_positions(spark: SparkSession, sf_dir: str):
    """Customer-keyed ragged lattice positions (id, gx, gy) + side length.

    Uses the distributed zip_index (range-partitioned ranks) — even fixture
    prep avoids single-partition global sorts."""
    from libpysal_spark.graph import zip_index

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = cust.count()
    side = int(n ** 0.5)
    pos = zip_index(cust.select(F.col("c_custkey").alias("id")), "id", "p")
    return (
        pos.select(
            "id", (F.col("p") % side).alias("gx"), F.floor(F.col("p") / side).alias("gy")
        ),
        side,
    )


def _edges_out(g: Graph, round_w: int | None = None) -> DataFrame:
    e = g.sorted()
    if round_w is not None:
        # IEEE signed zero at the comparison boundary (VERDICT r5 #1, fixed
        # on the SPARK side because oracle_sql is frozen): DuckDB's round()
        # preserves the sign of a negative value rounding to zero (-2e-7 ->
        # -0.0) while Spark's BigDecimal round returns +0.0. Emit -0.0
        # exactly when the unrounded weight is negative and rounds to zero —
        # bit-identical to the oracle for every signed-valued query
        # (transform_c), a no-op for the non-negative rest.
        rounded = F.round("weight", round_w)
        w = F.when((F.col("weight") < 0) & (rounded == 0), F.lit(-0.0)).otherwise(
            rounded
        )
        e = e.select("focal", "neighbor", w.alias("weight"))
    return e


# ----------------------------------------------------------------------------
# oracle SQL fragments
def _pts_sql(table: str) -> str:
    key = KEYS[table]
    xs, ys = geocode_sql(key)
    return f"SELECT {key} AS id, {xs} AS x, {ys} AS y FROM {table}"


def _band_cte(table: str, t: float) -> str:
    return f"""
pts AS ({_pts_sql(table)}),
e AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND abs(a.x-b.x) <= {t} AND abs(a.y-b.y) <= {t}
   AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= {t}
)"""


def _iso_sql(weight_expr: str = "CAST(1.0 AS DOUBLE)", edge_tbl: str = "e") -> str:
    return f"""
SELECT focal, neighbor, {weight_expr} AS weight FROM {edge_tbl}
UNION ALL
SELECT id AS focal, id AS neighbor, CAST(0.0 AS DOUBLE) AS weight
FROM pts WHERE id NOT IN (SELECT focal FROM {edge_tbl})
ORDER BY focal, neighbor"""


def _knn_cte(table: str, k: int) -> str:
    return f"""
pts AS ({_pts_sql(table)}),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
),
e AS (
  SELECT focal, neighbor FROM (
    SELECT focal, neighbor,
           row_number() OVER (PARTITION BY focal ORDER BY dist ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk <= {k}
)"""


def _lattice_cte() -> str:
    return """
pos AS (SELECT c_custkey AS id,
               row_number() OVER (ORDER BY c_custkey) - 1 AS p
        FROM customer),
s AS (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS side FROM customer),
xy AS (SELECT id, p % side AS gx, p // side AS gy FROM pos, s)"""


def _lattice_edges(criterion: str) -> str:
    if criterion == "queen":
        cond = "abs(a.gx-b.gx) <= 1 AND abs(a.gy-b.gy) <= 1 AND a.id <> b.id"
    else:  # rook
        cond = "abs(a.gx-b.gx) + abs(a.gy-b.gy) = 1"
    return f"e AS (SELECT a.id AS focal, b.id AS neighbor FROM xy a JOIN xy b ON {cond})"


MINHASH_H = 16
MINHASH_BANDS = 4


def _shingle_cte(doc_filter: str = "") -> str:
    """Distinct 3-word shingles per doc (matches dedup.word_shingles)."""
    return f"""
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         FROM documents {doc_filter}),
sh AS (SELECT DISTINCT doc_id, sh FROM (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM toks))"""


# ----------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode pages → distance-band weights → row-standardize →
    spatial lag of document length. Exercises the three load-bearing
    shuffles: the tiling join, the transform window, the SpMV aggregate."""
    sf_dir = "/root/testdata/sf0.001"
    pts = _points(spark, sf_dir, "orders")
    g = distance_band(pts, BAND_T).transform("R")
    y = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("y")
    )
    return (
        g.lag(y, deterministic=True)
        .select("id", portable_round("lag", 4).alias("lag"))
        .orderBy("id")
    )


# ----------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- distance family (SURVEY §2.2) ---
    q["distance_band"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T)
    )
    q["distance_band_idw"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T, binary=False, alpha=-1.0), 6
    )
    for _k in ["triangular", "parabolic", "gaussian", "bisquare", "tricube", "cosine", "exponential", "boxcar"]:
        q[f"kernel_{_k}"] = (
            lambda s, d, _k=_k: _edges_out(
                kernel_weights(_points(s, d, "orders"), KERNEL_BW, kernel=_k), 6
            )
        )
    q["knn"] = lambda s, d: _edges_out(knn(_points(s, d, "customer"), KNN_K))
    # Minkowski p=1 (reference KNN/DistanceBand ``p`` parameter)
    q["knn_manhattan"] = lambda s, d: _edges_out(
        knn(_points(s, d, "customer"), KNN_K, p=1.0)
    )
    q["distance_band_manhattan"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T, p=1.0)
    )
    q["knn_symmetrize"] = lambda s, d: _edges_out(
        knn(_points(s, d, "customer"), KNN_K).symmetrize("max")
    )

    # --- contiguity (SURVEY §2.2) ---
    def _queen(s, d):
        pos, _ = _lattice_positions(s, d)
        return _edges_out(queen(lattice_polygons(s, pos)))

    def _rook(s, d):
        pos, _ = _lattice_positions(s, d)
        return _edges_out(rook(lattice_polygons(s, pos)))

    q["queen"] = _queen
    q["rook"] = _rook
    q["block_weights"] = lambda s, d: _edges_out(
        block_weights(
            s.read.parquet(f"{d}/supplier.parquet").select(
                F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("regime")
            )
        )
    )

    # --- triangulation family (SURVEY §2.2) ---
    q["gabriel"] = lambda s, d: _edges_out(gabriel(_points(s, d, "supplier"), cells_per_side=TRI_CELLS))
    q["relative_neighborhood"] = lambda s, d: _edges_out(
        relative_neighborhood(_points(s, d, "supplier"), cells_per_side=TRI_CELLS)
    )

    # --- transforms (SURVEY §2.3) ---
    q["transform_r"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T).transform("R"), 6
    )
    q["transform_d"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T).transform("D"), 9
    )
    q["transform_v"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T).transform("V"), 9
    )
    # literal custom-callable scheme "C" (reference graph/base.py:1883-1887):
    # the callable is exactly replayable in SQL (w - max(w) per focal — no
    # float summation, so no fold-order sensitivity)
    q["transform_c"] = lambda s, d: _edges_out(
        distance_band(_points(s, d, "orders"), BAND_T, binary=False, alpha=-1.0)
        .transform(lambda w: w - w.max()),
        6,
    )

    # --- set ops / algebra (SURVEY §2.4) ---
    def _two_graphs(s, d):
        pts = _points(s, d, "customer")
        return distance_band(pts, CUST_BAND_T), knn(pts, KNN_K)

    q["set_union"] = lambda s, d: _edges_out((lambda a, b: a.union(b))(*_two_graphs(s, d)))
    q["set_intersection"] = lambda s, d: _edges_out(
        (lambda a, b: a.intersection(b))(*_two_graphs(s, d))
    )
    q["set_difference"] = lambda s, d: _edges_out(
        (lambda a, b: a.difference(b))(*_two_graphs(s, d))
    )
    q["set_symmetric_difference"] = lambda s, d: _edges_out(
        (lambda a, b: a.symmetric_difference(b))(*_two_graphs(s, d))
    )

    def _higher(s, d):
        pos, _ = _lattice_positions(s, d)
        return _edges_out(queen(lattice_polygons(s, pos)).higher_order(2))

    q["higher_order_2"] = _higher

    def _subgraph(s, d):
        pts = _points(s, d, "orders")
        g = distance_band(pts, BAND_T)
        ids = pts.select("id").filter(F.col("id") % 5 == 0)
        return _edges_out(g.subgraph(ids))

    q["subgraph"] = _subgraph
    q["assign_self_weight"] = lambda s, d: _edges_out(
        knn(_points(s, d, "supplier"), 3).assign_self_weight(1.0)
    )
    q["asymmetry"] = lambda s, d: knn(_points(s, d, "customer"), KNN_K).asymmetry().orderBy(
        "focal", "neighbor"
    )

    # --- analytics (SURVEY §2.5) ---
    def _lag(s, d):
        g = distance_band(_points(s, d, "orders"), BAND_T).transform("R")
        y = s.read.parquet(f"{d}/orders.parquet").select(
            F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("y")
        )
        return (
            g.lag(y, deterministic=True)
            .select("id", portable_round("lag", 4).alias("lag"))
            .orderBy("id")
        )

    q["lag_spatial"] = _lag

    # --- adjlist family (weights/adjtools.py) ---
    def _adjlist_apply(s, d):
        g = knn(_points(s, d, "customer"), KNN_K)
        y = s.read.parquet(f"{d}/customer.parquet").select(
            F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("y")
        )
        out = g.adjlist_apply(y, func=lambda f, n: F.abs(f - n))
        return out.select(
            "focal", "neighbor",
            F.round("att_focal", 4).alias("att_focal"),
            F.round("att_neighbor", 4).alias("att_neighbor"),
            F.round("result", 4).alias("result"),
        ).orderBy("focal", "neighbor")

    q["adjlist_apply"] = _adjlist_apply

    def _filter_adjlist(s, d):
        g = knn(_points(s, d, "customer"), KNN_K).symmetrize("max")
        return g.filter_adjlist().select("focal", "neighbor").orderBy(
            "focal", "neighbor"
        )

    q["filter_adjlist"] = _filter_adjlist

    def _lag_cat(s, d):
        g = distance_band(_points(s, d, "orders"), BAND_T)
        y = s.read.parquet(f"{d}/orders.parquet").select(
            F.col("o_orderkey").alias("id"), F.col("o_orderpriority").alias("y")
        )
        return g.lag_categorical(y).orderBy("id")

    q["lag_categorical"] = _lag_cat

    def _lag_cat_tryself(s, d):
        g = distance_band(_points(s, d, "orders"), BAND_T)
        y = s.read.parquet(f"{d}/orders.parquet").select(
            F.col("o_orderkey").alias("id"), F.col("o_orderpriority").alias("y")
        )
        return g.lag_categorical(y, ties="tryself").orderBy("id")

    q["lag_categorical_tryself"] = _lag_cat_tryself

    def _lag_cat_random(s, d):
        # reference-default 'random' tie policy, seeded + md5-replayable
        # (the oracle replays the identical draw) — VERDICT r2 next-round #6
        g = distance_band(_points(s, d, "orders"), BAND_T)
        y = s.read.parquet(f"{d}/orders.parquet").select(
            F.col("o_orderkey").alias("id"), F.col("o_orderpriority").alias("y")
        )
        return g.lag_categorical(y, ties="random", seed=7).orderBy("id")

    q["lag_categorical_random"] = _lag_cat_random

    def _describe(s, d):
        g = distance_band(_points(s, d, "orders"), BAND_T)
        y = s.read.parquet(f"{d}/orders.parquet").select(
            F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("y")
        )
        out = g.describe(y, deterministic=True)
        return out.select(
            "id",
            F.col("count").cast("long").alias("count"),
            portable_round("mean", 4).alias("mean"),
            portable_round("std", 4).alias("std"),
            F.round("min", 4).alias("min"),
            F.round("max", 4).alias("max"),
            portable_round("sum", 2).alias("sum"),
            F.col("nunique").cast("long").alias("nunique"),
            portable_round("median", 4).alias("median"),
            F.round("mode", 4).alias("mode"),
        ).orderBy("id")

    q["describe"] = _describe

    def _describe_filtered(s, d):
        # percentile filtration (graph/_utils.py:297-385): keep only neighbor
        # values inside the per-neighborhood interpolated [25, 75] percentile
        # band before aggregating (groups of <= 2 kept whole).
        g = distance_band(_points(s, d, "orders"), BAND_T)
        y = s.read.parquet(f"{d}/orders.parquet").select(
            F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("y")
        )
        out = g.describe(y, deterministic=True, q=(25.0, 75.0))
        return out.select(
            "id",
            F.col("count").cast("long").alias("count"),
            portable_round("mean", 4).alias("mean"),
            F.round("min", 4).alias("min"),
            F.round("max", 4).alias("max"),
            portable_round("sum", 2).alias("sum"),
        ).orderBy("id")

    q["describe_filtered"] = _describe_filtered
    q["cardinalities"] = lambda s, d: distance_band(
        _points(s, d, "orders"), BAND_T
    ).cardinalities().orderBy("id")

    def _summary(s, d):
        out = distance_band(_points(s, d, "orders"), BAND_T).summary()
        return out.select(
            F.col("n").cast("long").alias("n"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.round("s0", 4).alias("s0"),
            F.round("s1", 4).alias("s1"),
            F.round("s2", 4).alias("s2"),
            F.round("trcW2", 4).alias("trcw2"),
            F.round("trcWtW", 4).alias("trcwtw"),
            F.round("trcWtW_WW", 4).alias("trcwtw_ww"),
        )

    q["summary_stats"] = _summary

    # --- PIP join (north_star): squares of size 10 at (gx*30, gy*30) ---
    def _pip2(s, d):
        pos, _ = _lattice_positions(s, d)
        sq = pos.select(
            "id", (F.col("gx") * 30).cast("double").alias("x0"), (F.col("gy") * 30).cast("double").alias("y0")
        )
        polys = sq.select(
            "id",
            F.array(
                F.struct(F.col("x0").alias("x"), F.col("y0").alias("y")),
                F.struct((F.col("x0") + 10).alias("x"), F.col("y0").alias("y")),
                F.struct((F.col("x0") + 10).alias("x"), (F.col("y0") + 10).alias("y")),
                F.struct(F.col("x0").alias("x"), (F.col("y0") + 10).alias("y")),
                F.struct(F.col("x0").alias("x"), F.col("y0").alias("y")),
            ).alias("vertices"),
        )
        pts = _points(s, d, "orders")
        return pip_join(pts, polys, PIP_CELL).orderBy("point_id", "polygon_id")

    q["pip_join"] = _pip2

    # --- dissolve / overlay (SURVEY §2.6 spatial_join/overlay/dissolve) ---
    def _dissolve(s, d):
        from libpysal_spark.operators.overlay import dissolve_stats

        pos, _ = _lattice_positions(s, d)
        polys = lattice_polygons(s, pos)
        labels = pos.select(
            "id", (F.floor(F.col("gx") / 2) * 1000 + F.floor(F.col("gy") / 2)).alias("label")
        )
        out = dissolve_stats(polys, labels)
        return out.select(
            "label",
            F.col("n_parts").cast("long").alias("n_parts"),
            F.round("perimeter", 6).alias("perimeter"),
        ).orderBy("label")

    q["dissolve"] = _dissolve

    def _overlay(s, d):
        from libpysal_spark.operators.overlay import overlay

        pos, _ = _lattice_positions(s, d)
        a = lattice_polygons(s, pos)
        # B layer: unit squares shifted by (+0.5, +0.5) — each intersects up
        # to 4 A squares with area 0.25
        gx = F.col("gx").cast("double") + 0.5
        gy = F.col("gy").cast("double") + 0.5

        def pt(xe, ye):
            return F.struct(xe.alias("x"), ye.alias("y"))

        ring = F.array(
            pt(gx, gy), pt(gx + 1, gy), pt(gx + 1, gy + 1), pt(gx, gy + 1), pt(gx, gy)
        )
        b = pos.select("id", ring.alias("vertices"))
        out = overlay(a, b, cell_size=2.0)
        return out.select(
            "a_id", "b_id", F.round("area", 9).alias("area")
        ).orderBy("a_id", "b_id")

    q["overlay"] = _overlay

    def _overlay_nonconvex(s, d):
        # non-convex B layer (VERDICT r4 #8): L-shaped rings, ear-clipped
        # into a triangle partition inside the engine; the oracle computes
        # the exact area as the sum of the L's two rectangles (all offsets
        # are exact binary fractions)
        from libpysal_spark.operators.overlay import overlay

        pos, _ = _lattice_positions(s, d)
        a = lattice_polygons(s, pos)
        x0 = F.col("gx").cast("double") + 0.5
        y0 = F.col("gy").cast("double") + 0.5

        def pt(xe, ye):
            return F.struct(xe.alias("x"), ye.alias("y"))

        ring = F.array(
            pt(x0, y0), pt(x0 + 1.5, y0), pt(x0 + 1.5, y0 + 0.75),
            pt(x0 + 0.75, y0 + 0.75), pt(x0 + 0.75, y0 + 1.5),
            pt(x0, y0 + 1.5), pt(x0, y0),
        )
        b = pos.select("id", ring.alias("vertices"))
        out = overlay(a, b, cell_size=2.0, b_convex=False)
        return out.select(
            "a_id", "b_id", F.round("area", 9).alias("area")
        ).orderBy("a_id", "b_id")

    q["overlay_nonconvex"] = _overlay_nonconvex

    # --- corpus / pages (input_hint invariant) ---
    def _pages(s, d):
        p = pages(s, d)
        return p.select("url", "text", "lang").orderBy("url")

    q["pages_text_invariant"] = _pages

    def _tiles(s, d):
        p = pages(s, d)
        x, y = geocode_exprs("doc_id")
        from libpysal_spark.tiling import pack_cell

        p = p.withColumn("x", x).withColumn("y", y)
        return p.select(
            "url",
            pack_cell(F.floor(F.col("x") / 100.0), F.floor(F.col("y") / 100.0)).alias("tile_r0"),
            pack_cell(F.floor(F.col("x") / 10.0), F.floor(F.col("y") / 10.0)).alias("tile_r1"),
        ).orderBy("url")

    q["pages_tiles"] = _tiles

    # --- html -> text byte identity (north_star per-url invariant): extract
    # text from the raw html BYTES with the generic tag-strip expression and
    # hash it; the oracle hashes the stored text column directly. Any byte
    # drift in the extraction path breaks the md5 match. ---
    def _extract(s, d):
        from libpysal_spark.pages import extract_text

        p = pages(s, d)
        return p.select(
            "doc_id", F.md5(F.encode(extract_text("html"), "UTF-8")).alias("text_md5")
        ).orderBy("doc_id")

    q["extract_text_bytes"] = _extract

    # --- dedup / text-analysis (training-data ops) ---
    q["dedup_exact"] = lambda s, d: D.exact_duplicates(_docs(s, d)).orderBy("content_hash")
    q["minhash_lsh_pairs"] = lambda s, d: D.minhash_candidates(
        _docs(s, d), num_hashes=MINHASH_H, bands=MINHASH_BANDS
    ).orderBy("doc_a", "doc_b")
    # end-to-end dedup pipeline: LSH pairs -> connected components -> one
    # canonical keep id per cluster (min doc_id); singletons keep themselves
    q["dedup_clusters"] = lambda s, d: D.dedup_clusters(
        _docs(s, d),
        D.minhash_candidates(_docs(s, d), num_hashes=MINHASH_H, bands=MINHASH_BANDS),
    ).orderBy("doc_id")
    # full corpus (the sf0.01 fixture plants ~25 near-dup pairs above 0.1;
    # the round-1 doc_id<100 slice had none, making the oracle match vacuous)
    # max_df skew guard ACTIVE in the graded query (VERDICT r2 #4): shingles
    # in more than NGRAM_MAX_DF docs are dropped on BOTH sides before the
    # inverted-index pair join, bounding the per-shingle pair blowup at
    # max_df^2 regardless of boilerplate/stopword runs.
    q["ngram_jaccard"] = lambda s, d: D.ngram_jaccard(
        _docs(s, d), threshold=0.1, max_df=NGRAM_MAX_DF
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")).orderBy("doc_a", "doc_b")
    q["simhash"] = lambda s, d: D.simhash(_docs(s, d)).orderBy("doc_id")
    # wide Manku-style pigeonhole blocks (max_hamming+1 = 7 blocks of 8-9
    # bits over the 60-bit fingerprint) — VERDICT r4 #1 scale fix
    q["simhash_near_pairs"] = lambda s, d: D.simhash_near_pairs(
        D.simhash(_docs(s, d)), max_hamming=6
    ).orderBy("doc_a", "doc_b")
    q["language_id"] = lambda s, d: Q.language_id(_docs(s, d)).orderBy("doc_id")
    q["token_stats"] = lambda s, d: Q.token_stats(_docs(s, d)).select(
        "doc_id", "n_tokens", "n_chars", F.round("avg_token_len", 6).alias("avg_token_len")
    ).orderBy("doc_id")
    q["quality_score"] = lambda s, d: Q.quality_score(_docs(s, d)).select(
        "doc_id",
        "n_tokens",
        portable_round("stopword_ratio", 6).alias("stopword_ratio"),
        portable_round("punct_ratio", 6).alias("punct_ratio"),
        portable_round("uniq_ratio", 6).alias("uniq_ratio"),
        portable_round("quality", 6).alias("quality"),
    ).orderBy("doc_id")
    q["fingerprint"] = lambda s, d: Q.fingerprint(_docs(s, d)).orderBy("doc_id")
    q["token_stats_bpe"] = lambda s, d: Q.token_stats_bpe(_docs(s, d)).select(
        "doc_id", "ws_tokens", "bpe_tokens",
        portable_round("bytes_per_token", 6).alias("bytes_per_token"),
    ).orderBy("doc_id")
    q["winnow_fingerprints"] = lambda s, d: D.winnow_fingerprints(
        _docs(s, d).filter(F.col("doc_id") < 200)
    ).orderBy("doc_id", "fp")

    # --- multimodal metadata (text/multimodal.py media_metadata) ---
    def _media_metadata(s, d):
        from libpysal_spark.text.multimodal import media_metadata

        # deterministic mixed-kind payloads: ASCII magic prefix by doc_id % 5
        prefix = F.element_at(
            F.array(F.lit("<htm"), F.lit("<!DO"), F.lit("GIF8"), F.lit("RIFF"), F.lit("OggS")),
            (F.col("doc_id") % 5 + 1).cast("int"),
        )
        docs = _docs(s, d).select(
            "doc_id", F.encode(F.concat(prefix, F.col("text")), "UTF-8").alias("payload")
        )
        return (
            media_metadata(docs, "payload")
            .select("doc_id", "media_bytes", "media_kind", "media_hash")
            .orderBy("doc_id")
        )

    q["media_metadata"] = _media_metadata

    def _sample_frames(s, d):
        from libpysal_spark.text.multimodal import sample_frames

        # repeat the text so payloads span several fake frames
        p = _docs(s, d).select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(F.repeat(F.col("text"), 8), "UTF-8").alias("payload"),
        )
        return sample_frames(p, "payload", "url", every_n=4, fake=True).orderBy(
            "url", "frame_idx"
        )

    q["sample_frames_fake"] = _sample_frames

    # --- similarity search ---
    def _ann(s, d):
        emb = _emb(s, d)
        return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).orderBy(
            "query_id", "rank"
        )

    q["ann_cosine_topk"] = _ann

    def _ann_ivf(s, d):
        from libpysal_spark.text.ann import ivf_topk

        emb = _emb(s, d)
        return ivf_topk(
            emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=4
        ).orderBy("query_id", "rank")

    q["ann_ivf_topk"] = _ann_ivf

    def _ann_ivf_kmeans(s, d):
        # VERDICT r3 #4: IVF with the REAL quantizer — deterministic sampled
        # integer-Lloyd k-means, replayed bit-for-bit by the oracle (every
        # step is exact integer arithmetic; see kmeans_centroids_int)
        from libpysal_spark.text.ann import ivf_topk_kmeans

        emb = _emb(s, d)
        return ivf_topk_kmeans(
            emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=4
        ).orderBy("query_id", "rank")

    q["ann_ivf_kmeans"] = _ann_ivf_kmeans

    # --- raster contiguity (SURVEY §2.2 raster) ---
    def _raster(s, d):
        ev = s.read.parquet(f"{d}/events.parquet").filter(
            (F.col("event_id") < 6400) & (F.col("value") > 0)
        )
        cells = ev.select(
            F.lit(0).alias("band"),
            (F.col("event_id") % 80).alias("row"),
            (F.col("event_id") / 80).cast("long").alias("col"),
        )
        return _edges_out(raster_contiguity(cells, 80, 80, "queen"))

    q["raster_contiguity"] = _raster

    # --- spatial interaction (SURVEY §2.2 spintW) ---
    def _odw(s, d):
        pts = _points(s, d, "supplier")
        n_d = pts.count()
        w = knn(pts, 3)
        return _edges_out(odw(w, w, n_d))

    q["odw_kron"] = _odw

    def _netw(s, d):
        sup = s.read.parquet(f"{d}/supplier.parquet")
        links = sup.select(
            F.col("s_suppkey").alias("link_id"),
            F.col("s_nationkey").cast("long").alias("o"),
            (F.col("s_suppkey") % 7).alias("d"),
        )
        return _edges_out(netw(links, "A"))

    q["netw_shared_endpoint"] = _netw

    def _vecw(s, d):
        o = s.read.parquet(f"{d}/orders.parquet").filter(F.col("o_orderkey") < 3000)
        ox, oy = geocode_exprs("o_orderkey")
        dx, dy = geocode_exprs("o_custkey")
        flows = o.select(
            F.col("o_orderkey").alias("id"),
            ox.alias("ox"), oy.alias("oy"), dx.alias("dx"), dy.alias("dy"),
        )
        return _edges_out(vecw(flows, 120.0))

    q["vecw_band4d"] = _vecw

    # --- adaptive bandwidth kernels (graph/_kernel.py bandwidth modes) ---
    q["adaptive_kernel"] = lambda s, d: _edges_out(
        adaptive_kernel(_points(s, d, "customer"), 10, "gaussian"), 6
    )
    q["kernel_fixed_knn_bw"] = lambda s, d: _edges_out(
        adaptive_kernel(_points(s, d, "customer"), 10, "triangular", fixed=True), 6
    )

    # --- arc metric (cg/sphere, Arc_KDTree) ---
    def _arc(s, d):
        pts = _points(s, d, "supplier").select(
            "id",
            (F.col("x") * 0.36 - 180.0).alias("lon"),
            (F.col("y") * 0.18 - 90.0).alias("lat"),
        )
        return _edges_out(arc_knn(pts, 3))

    q["arc_knn"] = _arc

    def _arc_band(s, d):
        from libpysal_spark.functions.sphere import arc_distance_band

        pts = _points(s, d, "supplier").select(
            "id",
            (F.col("x") * 0.36 - 180.0).alias("lon"),
            (F.col("y") * 0.18 - 90.0).alias("lat"),
        )
        return _edges_out(arc_distance_band(pts, 1500.0))

    q["arc_distance_band"] = _arc_band

    # --- great-circle grid (cg/sphere.py:566 geogrid) ---
    GEO_K = 20
    GEO_UP = (-87.946389, 42.023768)
    GEO_DOWN = (-87.524102, 41.644415)

    def _geogrid(s, d):
        from libpysal_spark.functions.sphere import geogrid

        g = geogrid(s, GEO_UP, GEO_DOWN, GEO_K)
        return g.select(
            "row", "col",
            portable_round("lon", 6).alias("lon"),
            portable_round("lat", 6).alias("lat"),
        ).orderBy("row", "col")

    q["geogrid"] = _geogrid

    # --- graph analytics extras ---
    def _clust(s, d):
        g = distance_band(_points(s, d, "customer"), CUST_BAND_T)
        return g.local_clustering().select(
            "id", F.round(F.col("clustering") + 1e-9, 6).alias("clustering")
        ).orderBy("id")

    q["local_clustering"] = _clust

    def _components(s, d):
        g = distance_band(_points(s, d, "customer"), CUST_BAND_T)
        return g.component_labels().orderBy("id")

    q["connected_components"] = _components

    def _mtd(s, d):
        tbl = knn_table(_points(s, d, "supplier"), 1)
        return tbl.agg(F.round(F.max("dist") + 1e-9, 6).alias("min_threshold"))

    q["min_threshold_distance"] = _mtd

    # --- perimeter / bishop lattice variants ---
    def _perimeter(s, d):
        pos, _ = _lattice_positions(s, d)
        return _edges_out(rook(lattice_polygons(s, pos, size=2.0), perimeter=True))

    q["rook_perimeter"] = _perimeter

    def _bishop(s, d):
        pos, _ = _lattice_positions(s, d)
        polys = lattice_polygons(s, pos)
        from libpysal_spark.operators.contiguity import bishop

        return _edges_out(bishop(polys))

    q["bishop"] = _bishop

    # --- clip / remap ---
    def _clip(s, d):
        pts = _points(s, d, "customer")
        a = distance_band(pts, CUST_BAND_T, binary=False, alpha=-1.0)
        b = knn(pts, KNN_K)
        return _edges_out(a.w_clip(b), 6)

    q["w_clip"] = _clip

    def _remap(s, d):
        pts = _points(s, d, "customer")
        g = distance_band(pts, CUST_BAND_T)
        mapping = pts.select(F.col("id").alias("old"), (F.col("id") * 2 + 1).alias("new"))
        return _edges_out(g.remap_ids(mapping))

    q["remap_ids"] = _remap

    # --- coplanar / coincident handling (graph/_kernel.py:310-369) ---
    def _cliques(s, d):
        cust = s.read.parquet(f"{d}/customer.parquet")
        x, y = geocode_exprs("__site")
        pts = cust.select(
            F.col("c_custkey").alias("id"), (F.col("c_custkey") % 300).alias("__site")
        ).select("id", x.alias("x"), y.alias("y"))
        return _edges_out(unique_site_cliques(pts, 2))

    q["knn_coplanar_cliques"] = _cliques

    # --- coplanar 'jitter' policy (graph/_utils.py:65-126 _jitter_geoms) ---
    def _knn_jitter(s, d):
        from libpysal_spark.operators.distance import knn_jitter

        cust = s.read.parquet(f"{d}/customer.parquet")
        x, y = geocode_exprs("__site")
        pts = cust.select(
            F.col("c_custkey").alias("id"), (F.col("c_custkey") % 300).alias("__site")
        ).select("id", x.alias("x"), y.alias("y"))
        return _edges_out(knn_jitter(pts, 3, magnitude=0.5, seed=0))

    q["knn_jitter"] = _knn_jitter

    # --- triangulation: Delaunay / Voronoi duality (no SQL oracle — Delaunay
    # is not SQL-expressible; the driver records the weaker rows-only check;
    # exactness is covered by tests/test_delaunay.py property checks).
    # All graded triangulation queries run the PARTITIONED path
    # (cells_per_side=4): each cell UDF certifies its triangles
    # (need < halo), and broadcast empty-disk witness rounds settle the
    # rest, so the build is exact (operators/delaunay.py:delaunay_triangles) ---
    def _delaunay(s, d):
        from libpysal_spark.operators.delaunay import delaunay

        return _edges_out(delaunay(_points(s, d, "supplier"), cells_per_side=TRI_CELLS))

    q["delaunay"] = _delaunay

    def _voronoi(s, d):
        from libpysal_spark.operators.delaunay import voronoi_weights

        return _edges_out(voronoi_weights(_points(s, d, "supplier"), cells_per_side=TRI_CELLS))

    q["voronoi"] = _voronoi

    def _delaunay_euler(s, d):
        # structural oracle for the triangulation: Euler's relation for a
        # Delaunay triangulation of n points with h hull points (general
        # position): undirected edges = 3n - 3 - h, triangles = 2n - 2 - h.
        # The SQL side derives n and h from GEOMETRY ALONE (halfplane test),
        # so any missing or spurious edge/triangle breaks the match.
        from libpysal_spark.operators.delaunay import delaunay, delaunay_triangles

        pts = _points(s, d, "supplier")
        g = delaunay(pts, cells_per_side=TRI_CELLS)
        e_und = (
            g.edges.filter(
                ~((F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0))
            )
            .filter(F.col("focal") < F.col("neighbor"))
            .agg(F.count("*").alias("n_edges"))
        )
        tri = delaunay_triangles(pts, cells_per_side=TRI_CELLS).agg(F.count("*").alias("n_triangles"))
        n = pts.agg(F.count("*").alias("n"))
        return (
            n.crossJoin(e_und)
            .crossJoin(tri)
            .select(
                F.col("n").cast("long").alias("n"),
                F.col("n_edges").cast("long").alias("n_edges"),
                F.col("n_triangles").cast("long").alias("n_triangles"),
            )
        )

    q["delaunay_euler"] = _delaunay_euler

    def _voronoi_clipped(s, d):
        from libpysal_spark.operators.delaunay import voronoi_weights

        return _edges_out(voronoi_weights(_points(s, d, "supplier"), cells_per_side=TRI_CELLS, clip="extent"))

    q["voronoi_clipped"] = _voronoi_clipped

    def _voronoi_cells(s, d):
        # clipped Voronoi cells PARTITION the point extent — (cell count,
        # total area) equals (point count, bbox area), an oracle-checkable
        # invariant of the whole polygon pipeline
        from libpysal_spark.operators.delaunay import voronoi_polygons

        cells = voronoi_polygons(_points(s, d, "supplier"), cells_per_side=TRI_CELLS, clip="extent")
        pairs = F.arrays_zip(
            F.slice("vertices", 1, F.size("vertices") - 1).alias("p"),
            F.slice("vertices", 2, F.size("vertices") - 1).alias("q"),
        )
        area = F.abs(
            F.aggregate(
                pairs,
                F.lit(0.0),
                lambda acc, e: acc + e["p"]["x"] * e["q"]["y"] - e["q"]["x"] * e["p"]["y"],
            )
        ) / 2.0
        return cells.select("id", area.alias("__a")).agg(
            F.count("*").cast("long").alias("n_cells"),
            F.round(F.sum("__a") + 1e-9, 2).alias("total_area"),
        )

    q["voronoi_cells"] = _voronoi_cells

    def _voronoi_hull_cells(s, d):
        # hull-clipped Voronoi cells PARTITION the convex hull — count == n,
        # Σarea == hull area; the oracle re-derives the hull and its area
        # from the raw points in SQL (VERDICT r3 #3)
        from libpysal_spark.operators.delaunay import voronoi_polygons

        cells = voronoi_polygons(
            _points(s, d, "supplier"), cells_per_side=TRI_CELLS, clip="convex_hull"
        )
        pairs = F.arrays_zip(
            F.slice("vertices", 1, F.size("vertices") - 1).alias("p"),
            F.slice("vertices", 2, F.size("vertices") - 1).alias("q"),
        )
        area = F.abs(
            F.aggregate(
                pairs,
                F.lit(0.0),
                lambda acc, e: acc + e["p"]["x"] * e["q"]["y"] - e["q"]["x"] * e["p"]["y"],
            )
        ) / 2.0
        return cells.select("id", area.alias("__a")).agg(
            F.count("*").cast("long").alias("n_cells"),
            F.round(F.sum("__a") + 1e-9, 2).alias("total_area"),
        )

    q["voronoi_hull_cells"] = _voronoi_hull_cells

    def _voronoi_alpha_cells(s, d):
        # non-convex clip='alpha_shape' via triangle decomposition — the
        # alpha complex partitions the shape, so Σ clipped cell areas ==
        # Σ alpha-triangle areas (pinned exactly in pytest; rows-only here:
        # alpha triangles are not SQL-derivable)
        from libpysal_spark.operators.delaunay import voronoi_alpha_clip_areas

        out = voronoi_alpha_clip_areas(
            _points(s, d, "supplier"), alpha=0.02, cells_per_side=TRI_CELLS
        )
        return out.select(
            "id", F.round(F.col("area") + 1e-9, 4).alias("area")
        ).orderBy("id")

    q["voronoi_alpha_cells"] = _voronoi_alpha_cells

    def _alpha_shape_auto(s, d):
        # automatic alpha selection (reference cg/alpha_shapes.py:440-580):
        # the chosen complex must COVER every point and be one hole-free
        # polygon (Euler V - E + T == 1). The oracle supplies n_points
        # independently; n_covered and euler come from the engine's complex,
        # so a wrong selection or triangulation breaks the match.
        from libpysal_spark.operators.delaunay import alpha_shape_auto

        pts = _points(s, d, "supplier")
        _alpha, _radius, kept = alpha_shape_auto(pts, cells_per_side=TRI_CELLS)
        k = kept.localCheckpoint()
        e_cnt = (
            k.select(
                F.explode(
                    F.array(
                        F.array_sort(F.array("a", "b")),
                        F.array_sort(F.array("b", "c")),
                        F.array_sort(F.array("a", "c")),
                    )
                ).alias("e")
            )
            .distinct()
            .agg(F.count("*").alias("__e"))
        )
        v_cnt = (
            k.select(F.explode(F.array("a", "b", "c")).alias("vid"))
            .distinct()
            .agg(F.count("*").alias("__v"))
        )
        t_cnt = k.agg(F.count("*").alias("__t"))
        return (
            pts.agg(F.count("*").alias("n_points"))
            .crossJoin(v_cnt)
            .crossJoin(e_cnt)
            .crossJoin(t_cnt)
            .select(
                "n_points",
                F.col("__v").alias("n_covered"),
                (F.col("__v") - F.col("__e") + F.col("__t")).alias("euler"),
            )
        )

    q["alpha_shape_auto"] = _alpha_shape_auto

    def _alpha(s, d):
        from libpysal_spark.operators.delaunay import alpha_shape_edges

        return alpha_shape_edges(_points(s, d, "supplier"), alpha=0.02, cells_per_side=TRI_CELLS).orderBy(
            "focal", "neighbor"
        )

    q["alpha_shape"] = _alpha

    def _matching(s, d):
        from libpysal_spark.operators.matching import spatial_matching

        pts = _points(s, d, "supplier").filter(F.col("id") <= 16)
        return _edges_out(spatial_matching(pts))

    q["spatial_matching"] = _matching

    def _matching_k2(s, d):
        # exact min-weight b-edge cover (n_matches=2) — VERDICT r3 #10;
        # rows-only by design (global ILP, no SQL oracle), exactness pinned
        # by the brute-force enumeration pytest
        from libpysal_spark.operators.matching import spatial_matching

        pts = _points(s, d, "supplier").filter(F.col("id") <= 14)
        return _edges_out(spatial_matching(pts, n_matches=2))

    q["spatial_matching_k2"] = _matching_k2

    # --- embedding near-duplicates (training-data op) ---
    # Exact all-pairs is tiled into B(B+1)/2 block-pair GEMM tasks (no
    # CartesianProduct / BroadcastNestedLoopJoin — plan-gated in
    # tests/test_plans.py) with exact JVM rescoring; see
    # text/ann.py:cosine_threshold_pairs for why full recall at cosine 0.35
    # is provably cheaper this way than via any LSH family.
    def _embdup(s, d):
        from libpysal_spark.text.ann import cosine_threshold_pairs

        return cosine_threshold_pairs(_emb(s, d), threshold=0.35, blocks=8).orderBy(
            "doc_a", "doc_b"
        )

    q["embedding_near_dup"] = _embdup

    # LSH-bucketed variant: SRP candidates (deterministic hash planes,
    # replayed bit-for-bit by the oracle) + exact rescoring — the scale
    # shape, with honestly-documented recall at this near-orthogonal
    # threshold (text/ann.py:srp_threshold_pairs).
    def _embdup_srp(s, d):
        from libpysal_spark.text.ann import srp_threshold_pairs

        return srp_threshold_pairs(
            _emb(s, d), threshold=0.35, num_planes=SRP_PLANES, num_tables=SRP_TABLES
        ).orderBy("doc_a", "doc_b")

    q["embedding_near_dup_srp"] = _embdup_srp

    # --- fuzzy contiguity (weights/util.py:1471) on overlapping diamonds ---
    def _fuzzy(s, d):
        from libpysal_spark.operators.contiguity import fuzzy_contiguity

        pos, _ = _lattice_positions(s, d)
        r = 0.6
        ring = F.array(
            F.struct(F.col("gx").cast("double").alias("x"), (F.col("gy") - r).cast("double").alias("y")),
            F.struct((F.col("gx") + r).cast("double").alias("x"), F.col("gy").cast("double").alias("y")),
            F.struct(F.col("gx").cast("double").alias("x"), (F.col("gy") + r).cast("double").alias("y")),
            F.struct((F.col("gx") - r).cast("double").alias("x"), F.col("gy").cast("double").alias("y")),
            F.struct(F.col("gx").cast("double").alias("x"), (F.col("gy") - r).cast("double").alias("y")),
        )
        polys = pos.select("id", ring.alias("vertices"))
        return _edges_out(fuzzy_contiguity(polys, 1.0))

    q["fuzzy_contiguity"] = _fuzzy

    # --- non-planar island repair (weights/util.py:1346 nonplanar_neighbors) ---
    def _nonplanar(s, d):
        from libpysal_spark.operators.contiguity import fuzzy_contiguity, nonplanar_neighbors

        pos, side = _lattice_positions(s, d)
        r = 0.4  # disjoint diamonds: gap 0.2 between rook neighbors
        ring = F.array(
            F.struct(F.col("gx").cast("double").alias("x"), (F.col("gy") - r).cast("double").alias("y")),
            F.struct((F.col("gx") + r).cast("double").alias("x"), F.col("gy").cast("double").alias("y")),
            F.struct(F.col("gx").cast("double").alias("x"), (F.col("gy") + r).cast("double").alias("y")),
            F.struct((F.col("gx") - r).cast("double").alias("x"), F.col("gy").cast("double").alias("y")),
            F.struct(F.col("gx").cast("double").alias("x"), (F.col("gy") - r).cast("double").alias("y")),
        )
        polys = pos.select("id", ring.alias("vertices"))
        g = fuzzy_contiguity(polys, 1.0)  # all isolates (shapes disjoint)
        # dilation distance 0.25 => rook pairs overlap (0.65 + 0.4 > 1),
        # diagonal pairs stay apart (L1 distance 2 > 1.05)
        tol = 0.25 / ((side - 1) + 2 * r)
        return _edges_out(nonplanar_neighbors(g, polys, tolerance=tol))

    q["nonplanar_neighbors"] = _nonplanar

    # --- island repair (weights/util.py:1297 attach_islands) ---
    def _attach(s, d):
        from libpysal_spark.operators.distance import attach_islands

        pts = _points(s, d, "customer")
        g = distance_band(pts, CUST_BAND_T)
        return _edges_out(attach_islands(g, pts))

    q["attach_islands"] = _attach

    # --- strict contiguity (pointset; catches T-junctions) ---
    def _t_junction_polys(s, d):
        """Columns of stacked rectangles with height = 1/(col+1): vertical
        boundaries meet at T-junctions, so vertex hashing misses lateral
        neighbors while strict (segment) contiguity finds them."""
        pos, _ = _lattice_positions(s, d)
        h = F.lit(1.0) / (F.col("gx") % 3 + 1)
        x0 = F.col("gx").cast("double")
        # y bounds as gy*h and (gy+1)*h — the SAME expression for a cell's top
        # and its upper neighbor's bottom, so stacked rects touch exactly in
        # float space (gy*h + h can differ by 1 ULP from (gy+1)*h)
        y0 = F.col("gy").cast("double") * h
        y1 = (F.col("gy").cast("double") + 1.0) * h

        def pt(xe, ye):
            return F.struct(xe.alias("x"), ye.alias("y"))

        ring = F.array(
            pt(x0, y0), pt(x0 + 1, y0), pt(x0 + 1, y1), pt(x0, y1), pt(x0, y0)
        )
        return pos.select("id", "gx", "gy", ring.alias("vertices"))

    def _rook_strict(s, d):
        from libpysal_spark.operators.contiguity import rook_strict

        return _edges_out(rook_strict(_t_junction_polys(s, d), 2.0))

    def _queen_strict(s, d):
        from libpysal_spark.operators.contiguity import queen_strict

        return _edges_out(queen_strict(_t_junction_polys(s, d), 2.0))

    q["rook_strict"] = _rook_strict
    q["queen_strict"] = _queen_strict

    # --- cell graph (H3-analog over occupied tiles) ---
    def _cellgraph(s, d):
        from libpysal_spark.operators.cellgraph import cell_graph

        pts = _points(s, d, "orders")
        return _edges_out(cell_graph(pts, 50.0, order=2, weight="inverse"), 6)

    q["cell_graph"] = _cellgraph

    # --- hex lattice (weights/util.py:59 hexLat2W) ---
    def _hex(s, d):
        from libpysal_spark.operators.lattice import hex_lat2w

        n = s.read.parquet(f"{d}/customer.parquet").count()
        side = int(n ** 0.5)
        return _edges_out(hex_lat2w(s, side, side))

    q["hex_lattice"] = _hex

    # --- BFS contiguity orders (weights/util.py:339 order / :610 shimbel) ---
    def _order(s, d):
        pos, _ = _lattice_positions(s, d)
        g = queen(lattice_polygons(s, pos))
        return (
            g.order_table(3)
            .select("focal", "neighbor", F.col("order").cast("int").alias("order"))
            .orderBy("focal", "neighbor")
        )

    q["contiguity_order"] = _order

    # --- exact Shimbel table: BFS run to frontier emptiness on an 8x8 rook
    # lattice keyed off the customer table (weights/util.py:610-659) ---
    def _shimbel(s, d):
        from libpysal_spark.operators.lattice import lat2w

        n = s.read.parquet(f"{d}/customer.parquet").count()
        side = min(8, int(n ** 0.5))
        g = lat2w(s, side, side, "rook")
        return (
            g.shimbel()
            .select("focal", "neighbor", F.col("order").cast("int").alias("order"))
            .orderBy("focal", "neighbor")
        )

    q["shimbel"] = _shimbel

    # --- dense id mapping (WSP bridge, weights/weights.py:28 _LabelEncoder) ---
    def _dense(s, d):
        g = distance_band(_points(s, d, "customer"), CUST_BAND_T)
        return g.dense_id_mapping().orderBy("old")

    q["dense_id_mapping"] = _dense

    # --- cardinality histogram (weights/weights.py:797 histogram) ---
    def _hist(s, d):
        g = distance_band(_points(s, d, "orders"), BAND_T)
        return (
            g.cardinalities()
            .groupBy("cardinality")
            .agg(F.count("*").cast("long").alias("n_nodes"))
            .orderBy("cardinality")
        )

    q["cardinality_histogram"] = _hist

    # --- temporal tile rollup over the events table: hourly counts per tile ---
    def _rollup(s, d):
        ev = s.read.parquet(f"{d}/events.parquet")
        x, y = geocode_exprs("user_id")
        tiled = ev.withColumn("x", x).withColumn("y", y).withColumn(
            "tile", F.floor(F.col("x") / 100.0) * 100 + F.floor(F.col("y") / 100.0)
        )
        return (
            tiled.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("tile")
            )
            .agg(
                F.count("*").cast("long").alias("events"),
                portable_round(det_sum("value"), 4).alias("value_sum"),
            )
            .orderBy("hour", "tile")
        )

    q["event_tile_rollup"] = _rollup

    # --- travel-cost / network weights (graph/_network.py:27 pdna_to_adj) ---
    def _travel(s, d):
        li = s.read.parquet(f"{d}/lineitem.parquet")
        adj = (
            li.select(
                (F.col("l_orderkey") % 500).alias("focal"),
                F.col("l_suppkey").alias("neighbor"),
                F.col("l_quantity").alias("cost"),
            )
            .filter(F.col("cost") <= 25.0)
            .groupBy("focal", "neighbor")
            .agg(F.min("cost").alias("cost"))
        )
        return _edges_out(Graph.from_adjacency(adj, weight_col="cost"), 4)

    q["travel_cost_graph"] = _travel

    # --- routed travel-cost weights: distributed multi-source Dijkstra
    # within threshold (graph/_network.py:27-152 pdna_to_adj semantics —
    # pandana nodes_in_range over a directed weighted network) ---
    def _travel_routed(s, d):
        from libpysal_spark.operators.network import nodes_in_range

        sup = s.read.parquet(f"{d}/supplier.parquet").select(
            F.col("s_suppkey").cast("long").alias("id")
        )
        nmax = sup.agg(F.max("id").alias("N"))
        n_b = F.broadcast(nmax)
        ring = sup.crossJoin(n_b).select(
            F.col("id").alias("src"),
            (F.col("id") % F.col("N") + 1).alias("dst"),
            (1.0 + (F.col("id") % 5) * 0.25).alias("cost"),
        )
        chord = sup.crossJoin(n_b).select(
            F.col("id").alias("src"),
            ((F.col("id") * 7) % F.col("N") + 1).alias("dst"),
            (3.0 + (F.col("id") % 3) * 0.5).alias("cost"),
        )
        edges = ring.unionByName(chord).filter(F.col("src") != F.col("dst"))
        origins = sup.filter(F.col("id") % 10 == 1)
        out = nodes_in_range(edges, origins, threshold=6.0)
        return out.select(
            "origin", "destination", F.round("cost", 6).alias("cost")
        ).orderBy("origin", "destination")

    q["travel_cost_routed"] = _travel_routed
    return q


# ----------------------------------------------------------------------------
def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["distance_band"] = f"WITH {_band_cte('orders', BAND_T)} {_iso_sql()}"
    o["distance_band_idw"] = (
        f"WITH {_band_cte('orders', BAND_T)} "
        + _iso_sql("round(1.0/dist, 6)")
    )
    for _k in ["triangular", "parabolic", "gaussian", "bisquare", "tricube", "cosine", "exponential", "boxcar"]:
        w = kernel_sql(_k, "dist", str(KERNEL_BW))
        o[f"kernel_{_k}"] = (
            f"WITH {_band_cte('orders', KERNEL_BW)} " + _iso_sql(f"round({w}, 6)")
        )

    o["knn"] = f"WITH {_knn_cte('customer', KNN_K)} {_iso_sql()}"

    o["knn_manhattan"] = f"""
WITH pts AS ({_pts_sql('customer')}),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         abs(a.x-b.x) + abs(a.y-b.y) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
),
e AS (
  SELECT focal, neighbor FROM (
    SELECT focal, neighbor,
           row_number() OVER (PARTITION BY focal ORDER BY dist ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk <= {KNN_K}
)
{_iso_sql()}"""

    o["distance_band_manhattan"] = f"""
WITH pts AS ({_pts_sql('orders')}),
e AS (
  SELECT a.id AS focal, b.id AS neighbor
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND abs(a.x-b.x) <= {BAND_T} AND abs(a.y-b.y) <= {BAND_T}
   AND abs(a.x-b.x) + abs(a.y-b.y) <= {BAND_T}
)
{_iso_sql()}"""
    o["knn_symmetrize"] = f"""
WITH {_knn_cte('customer', KNN_K)},
sym AS (
  SELECT focal, neighbor FROM e
  UNION
  SELECT neighbor AS focal, focal AS neighbor FROM e
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM sym
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM sym)
ORDER BY focal, neighbor"""

    for name, crit in [("queen", "queen"), ("rook", "rook")]:
        o[name] = f"""
WITH {_lattice_cte()}, {_lattice_edges(crit)}
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["block_weights"] = """
WITH e AS (
  SELECT a.s_suppkey AS focal, b.s_suppkey AS neighbor
  FROM supplier a JOIN supplier b
    ON a.s_nationkey = b.s_nationkey AND a.s_suppkey <> b.s_suppkey
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT s_suppkey, s_suppkey, CAST(0.0 AS DOUBLE) FROM supplier
WHERE s_suppkey NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    _gab_pred = (
        "(p.xf-p.xn)*(p.xf-p.xn) + (p.yf-p.yn)*(p.yf-p.yn) > "
        "(p.xf-k.x)*(p.xf-k.x) + (p.yf-k.y)*(p.yf-k.y) + "
        "(p.xn-k.x)*(p.xn-k.x) + (p.yn-k.y)*(p.yn-k.y)"
    )
    _rng_pred = (
        "greatest(sqrt((p.xf-k.x)*(p.xf-k.x) + (p.yf-k.y)*(p.yf-k.y)), "
        "sqrt((p.xn-k.x)*(p.xn-k.x) + (p.yn-k.y)*(p.yn-k.y))) < "
        "sqrt((p.xf-p.xn)*(p.xf-p.xn) + (p.yf-p.yn)*(p.yf-p.yn))"
    )
    for name, pred in [("gabriel", _gab_pred), ("relative_neighborhood", _rng_pred)]:
        o[name] = f"""
WITH pts AS ({_pts_sql('supplier')}),
pairs AS (
  SELECT a.id AS f, b.id AS n, a.x AS xf, a.y AS yf, b.x AS xn, b.y AS yn
  FROM pts a JOIN pts b ON a.id <> b.id
),
blocked AS (
  SELECT DISTINCT p.f, p.n FROM pairs p JOIN pts k
    ON k.id <> p.f AND k.id <> p.n AND ({pred})
),
e AS (
  SELECT f AS focal, n AS neighbor FROM pairs
  WHERE NOT EXISTS (SELECT 1 FROM blocked b WHERE b.f = pairs.f AND b.n = pairs.n)
)
{_iso_sql()}"""

    o["transform_r"] = f"""
WITH {_band_cte('orders', BAND_T)},
deg AS (SELECT focal, count(*) AS d FROM e GROUP BY focal),
t AS (SELECT e.focal, e.neighbor, round(1.0/deg.d, 6) AS weight
      FROM e JOIN deg ON e.focal = deg.focal)
SELECT focal, neighbor, CAST(weight AS DOUBLE) AS weight FROM t
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM t)
ORDER BY focal, neighbor"""

    o["transform_d"] = f"""
WITH {_band_cte('orders', BAND_T)},
s0 AS (SELECT count(*) AS s FROM e)
SELECT focal, neighbor, CAST(round(1.0/s, 9) AS DOUBLE) AS weight FROM e, s0
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["transform_c"] = f"""
WITH {_band_cte('orders', BAND_T)},
w AS (SELECT focal, neighbor, 1.0/dist AS wt FROM e),
t AS (SELECT focal, neighbor,
             round(wt - max(wt) OVER (PARTITION BY focal), 6) AS weight
      FROM w)
SELECT focal, neighbor, CAST(weight AS DOUBLE) AS weight FROM t
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM t)
ORDER BY focal, neighbor"""

    # variance-stabilizing: s_ij = w_ij / sqrt(Σ_j w_ij²), scaled by n / Σ s
    # (reference weights/weights.py:1156-1174; binary band ⇒ s_ij = 1/sqrt(deg))
    o["transform_v"] = f"""
WITH {_band_cte('orders', BAND_T)},
deg AS (SELECT focal, count(*) AS dg FROM e GROUP BY focal),
sv AS (SELECT e.focal, e.neighbor, 1.0/sqrt(deg.dg) AS s
       FROM e JOIN deg ON e.focal = deg.focal),
tot AS (SELECT sum(s) AS st FROM sv),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pts)
SELECT focal, neighbor, CAST(round(s * n / st, 9) AS DOUBLE) AS weight
FROM sv, tot, nn
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM sv)
ORDER BY focal, neighbor"""

    _two = f"""
pts AS ({_pts_sql('customer')}),
band AS (
  SELECT a.id AS focal, b.id AS neighbor
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND abs(a.x-b.x) <= {CUST_BAND_T} AND abs(a.y-b.y) <= {CUST_BAND_T}
   AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= {CUST_BAND_T}
),
kn AS (
  SELECT focal, neighbor FROM (
    SELECT a.id AS focal, b.id AS neighbor,
           row_number() OVER (PARTITION BY a.id
                              ORDER BY sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) ASC,
                                       b.id ASC) AS rk
    FROM pts a JOIN pts b ON a.id <> b.id
  ) WHERE rk <= {KNN_K}
)"""

    def _setop(expr: str) -> str:
        return f"""
WITH {_two},
e AS ({expr})
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["set_union"] = _setop("SELECT focal, neighbor FROM band UNION SELECT focal, neighbor FROM kn")
    o["set_intersection"] = _setop(
        "SELECT focal, neighbor FROM band INTERSECT SELECT focal, neighbor FROM kn"
    )
    o["set_difference"] = _setop(
        "SELECT focal, neighbor FROM band EXCEPT SELECT focal, neighbor FROM kn"
    )
    o["set_symmetric_difference"] = _setop(
        "(SELECT focal, neighbor FROM band EXCEPT SELECT focal, neighbor FROM kn)"
        " UNION "
        "(SELECT focal, neighbor FROM kn EXCEPT SELECT focal, neighbor FROM band)"
    )

    o["higher_order_2"] = f"""
WITH {_lattice_cte()}, {_lattice_edges('queen')},
e2 AS (
  SELECT DISTINCT a.focal, b.neighbor
  FROM e a JOIN e b ON a.neighbor = b.focal
  WHERE a.focal <> b.neighbor
),
ho AS (
  SELECT focal, neighbor FROM e2
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.focal = e2.focal AND e.neighbor = e2.neighbor)
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM ho
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM ho)
ORDER BY focal, neighbor"""

    o["subgraph"] = f"""
WITH {_band_cte('orders', BAND_T)},
keep AS (SELECT id FROM pts WHERE id % 5 = 0),
sub AS (
  SELECT e.focal, e.neighbor FROM e
  WHERE e.focal IN (SELECT id FROM keep) AND e.neighbor IN (SELECT id FROM keep)
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM sub
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM keep WHERE id NOT IN (SELECT focal FROM sub)
ORDER BY focal, neighbor"""

    o["assign_self_weight"] = f"""
WITH {_knn_cte('supplier', 3)}
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(1.0 AS DOUBLE) FROM pts
ORDER BY focal, neighbor"""

    # both directions: (i,j) with w=1,rev=0 AND (j,i) with w=0,rev=1 — matches
    # the reference's nonzero(W - W.T) (weights/weights.py:1186-1252)
    o["asymmetry"] = f"""
WITH {_knn_cte('customer', KNN_K)},
asym AS (
  SELECT focal, neighbor FROM e
  WHERE NOT EXISTS (
    SELECT 1 FROM e r WHERE r.focal = e.neighbor AND r.neighbor = e.focal
  )
)
SELECT focal, neighbor FROM asym
UNION ALL
SELECT neighbor AS focal, focal AS neighbor FROM asym
ORDER BY focal, neighbor"""

    o["lag_spatial"] = f"""
WITH {_band_cte('orders', BAND_T)},
deg AS (SELECT focal, count(*) AS d FROM e GROUP BY focal),
r AS (SELECT e.focal, e.neighbor, 1.0/deg.d AS w FROM e JOIN deg ON e.focal = deg.focal),
alle AS (
  SELECT focal, neighbor, w FROM r
  UNION ALL
  SELECT id, id, 0.0 FROM pts WHERE id NOT IN (SELECT focal FROM r)
)
SELECT alle.focal AS id,
       CAST({portable_round_sql(det_sum_sql('alle.w * y.o_totalprice'), 4)} AS DOUBLE) AS lag
FROM alle JOIN orders y ON alle.neighbor = y.o_orderkey
GROUP BY alle.focal ORDER BY id"""

    o["lag_categorical"] = f"""
WITH {_band_cte('orders', BAND_T)},
alle AS (
  SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS w FROM e
  UNION ALL
  SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM e)
),
counts AS (
  SELECT alle.focal, y.o_orderpriority AS cat, sum(alle.w) AS cnt
  FROM alle JOIN orders y ON alle.neighbor = y.o_orderkey
  WHERE NOT (alle.focal = alle.neighbor AND alle.w = 0.0)
  GROUP BY 1, 2
)
SELECT focal AS id, cat AS lag FROM (
  SELECT focal, cat, row_number() OVER (PARTITION BY focal ORDER BY cnt DESC, cat ASC) AS rk
  FROM counts
) WHERE rk = 1 ORDER BY id"""

    o["lag_categorical_random"] = f"""
WITH {_band_cte('orders', BAND_T)},
alle AS (
  SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS w FROM e
  UNION ALL
  SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM e)
),
counts AS (
  SELECT alle.focal, y.o_orderpriority AS cat, sum(alle.w) AS cnt
  FROM alle JOIN orders y ON alle.neighbor = y.o_orderkey
  WHERE NOT (alle.focal = alle.neighbor AND alle.w = 0.0)
  GROUP BY 1, 2
)
SELECT focal AS id, cat AS lag FROM (
  SELECT focal, cat, row_number() OVER (PARTITION BY focal ORDER BY cnt DESC,
    md5(concat(CAST(focal AS VARCHAR), '|', cat, '|', '7')) ASC, cat ASC) AS rk
  FROM counts
) WHERE rk = 1 ORDER BY id"""

    o["lag_categorical_tryself"] = f"""
WITH {_band_cte('orders', BAND_T)},
ncounts AS (
  SELECT e.focal, y.o_orderpriority AS cat, CAST(count(*) AS DOUBLE) AS cnt
  FROM e JOIN orders y ON e.neighbor = y.o_orderkey
  GROUP BY 1, 2
),
zeroself AS (
  SELECT DISTINCT e.focal, sc.o_orderpriority AS cat, CAST(0.0 AS DOUBLE) AS cnt
  FROM e JOIN orders sc ON sc.o_orderkey = e.focal
),
counts AS (
  SELECT focal, cat, sum(cnt) AS cnt
  FROM (SELECT * FROM ncounts UNION ALL SELECT * FROM zeroself)
  GROUP BY 1, 2
),
withmax AS (
  SELECT focal, cat, cnt, max(cnt) OVER (PARTITION BY focal) AS mx FROM counts
),
tallied AS (
  SELECT focal, cat, cnt, mx,
         sum(CASE WHEN cnt = mx THEN 1 ELSE 0 END) OVER (PARTITION BY focal) AS ntied
  FROM withmax
),
meanw AS (SELECT focal, avg(1.0) AS mw FROM e GROUP BY focal),
adj AS (
  SELECT t.focal, t.cat,
         t.cnt + CASE WHEN t.ntied > 1 AND t.cat = sc.o_orderpriority
                      THEN m.mw ELSE 0.0 END AS cnt
  FROM tallied t
  JOIN orders sc ON sc.o_orderkey = t.focal
  JOIN meanw m ON m.focal = t.focal
)
SELECT focal AS id, cat AS lag FROM (
  SELECT focal, cat, row_number() OVER (PARTITION BY focal ORDER BY cnt DESC, cat ASC) AS rk
  FROM adj
) WHERE rk = 1 ORDER BY id"""

    _dsum = det_sum_sql("y.o_totalprice")
    _dss = det_sum_sql("y.o_totalprice * y.o_totalprice")
    _n = "CAST(count(*) AS DOUBLE)"
    _m = f"({_dsum} / {_n})"
    _std = (
        f"CASE WHEN count(*) > 1 THEN "
        f"sqrt(({_dss} - {_n} * ({_m} * {_m})) / ({_n} - 1.0)) END"
    )
    o["describe"] = f"""
WITH {_band_cte('orders', BAND_T)},
md AS (
  SELECT focal, v AS mode FROM (
    SELECT e.focal, y.o_totalprice AS v,
           row_number() OVER (PARTITION BY e.focal
                              ORDER BY count(*) DESC, y.o_totalprice ASC) AS rk
    FROM e JOIN orders y ON e.neighbor = y.o_orderkey
    GROUP BY e.focal, y.o_totalprice
  ) WHERE rk = 1
),
base AS (
  SELECT e.focal AS id,
         CAST(count(*) AS BIGINT) AS count,
         CAST({portable_round_sql(_m, 4)} AS DOUBLE) AS mean,
         CAST({portable_round_sql(_std, 4)} AS DOUBLE) AS std,
         CAST(round(min(y.o_totalprice), 4) AS DOUBLE) AS min,
         CAST(round(max(y.o_totalprice), 4) AS DOUBLE) AS max,
         CAST({portable_round_sql(_dsum, 2)} AS DOUBLE) AS sum,
         CAST(count(DISTINCT y.o_totalprice) AS BIGINT) AS nunique,
         CAST({portable_round_sql('median(CAST(y.o_totalprice AS DOUBLE))', 4)} AS DOUBLE) AS median
  FROM e JOIN orders y ON e.neighbor = y.o_orderkey
  GROUP BY e.focal
)
SELECT base.*, CAST(round(md.mode, 4) AS DOUBLE) AS mode
FROM base JOIN md ON base.id = md.focal ORDER BY id"""

    o["describe_filtered"] = f"""
WITH {_band_cte('orders', BAND_T)},
vals AS (
  SELECT e.focal, CAST(y.o_totalprice AS DOUBLE) AS v
  FROM e JOIN orders y ON e.neighbor = y.o_orderkey
),
b AS (
  SELECT focal, count(*) AS n,
         quantile_cont(v, 0.25) AS qlo, quantile_cont(v, 0.75) AS qhi
  FROM vals GROUP BY focal
),
kept AS (
  SELECT vals.focal, v FROM vals JOIN b ON vals.focal = b.focal
  WHERE b.n <= 2 OR (v >= b.qlo AND v <= b.qhi)
)
SELECT focal AS id,
       CAST(count(*) AS BIGINT) AS count,
       CAST({portable_round_sql('(' + det_sum_sql('v') + ' / CAST(count(*) AS DOUBLE))', 4)} AS DOUBLE) AS mean,
       CAST(round(min(v), 4) AS DOUBLE) AS min,
       CAST(round(max(v), 4) AS DOUBLE) AS max,
       CAST({portable_round_sql(det_sum_sql('v'), 2)} AS DOUBLE) AS sum
FROM kept GROUP BY focal ORDER BY id"""

    o["adjlist_apply"] = f"""
WITH {_knn_cte('customer', KNN_K)}
SELECT e.focal, e.neighbor,
       CAST(round(yf.c_acctbal, 4) AS DOUBLE) AS att_focal,
       CAST(round(yn.c_acctbal, 4) AS DOUBLE) AS att_neighbor,
       CAST(round(abs(yf.c_acctbal - yn.c_acctbal), 4) AS DOUBLE) AS result
FROM e
JOIN customer yf ON e.focal = yf.c_custkey
JOIN customer yn ON e.neighbor = yn.c_custkey
ORDER BY e.focal, e.neighbor"""

    o["filter_adjlist"] = f"""
WITH {_knn_cte('customer', KNN_K)},
sym AS (
  SELECT focal, neighbor FROM e
  UNION
  SELECT neighbor, focal FROM e
)
SELECT focal, neighbor FROM sym WHERE focal <= neighbor
ORDER BY focal, neighbor"""

    # same magic-prefix synthesis as the Spark query; md5 over the VARCHAR is
    # md5 over its UTF-8 bytes == Spark's md5 over encode(..., 'UTF-8'), and
    # strlen() is the byte length of the same encoding.
    o["media_metadata"] = """
WITH p AS (
  SELECT doc_id,
         concat(['<htm', '<!DO', 'GIF8', 'RIFF', 'OggS'][CAST(doc_id % 5 AS INT) + 1],
                text) AS payload
  FROM documents
)
SELECT doc_id,
       CAST(strlen(payload) AS BIGINT) AS media_bytes,
       CASE substr(payload, 1, 4)
         WHEN 'GIF8' THEN 'gif'
         WHEN 'RIFF' THEN 'riff'
         WHEN '<htm' THEN 'html'
         WHEN '<!DO' THEN 'html'
         WHEN 'OggS' THEN 'ogg'
         ELSE 'unknown' END AS media_kind,
       md5(payload) AS media_hash
FROM p ORDER BY doc_id"""

    o["cardinalities"] = f"""
WITH {_band_cte('orders', BAND_T)},
deg AS (SELECT focal AS id, count(*) AS c FROM e GROUP BY focal)
SELECT pts.id, CAST(coalesce(deg.c, 0) AS BIGINT) AS cardinality
FROM pts LEFT JOIN deg ON pts.id = deg.id ORDER BY pts.id"""

    o["summary_stats"] = f"""
WITH {_band_cte('orders', BAND_T)},
w AS (SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e),
rev AS (SELECT neighbor AS focal, focal AS neighbor, weight AS wr FROM w),
pair AS (
  SELECT coalesce(w.focal, rev.focal) AS focal,
         coalesce(w.neighbor, rev.neighbor) AS neighbor,
         coalesce(w.weight, 0.0) + coalesce(rev.wr, 0.0) AS sij
  FROM w FULL OUTER JOIN rev
    ON w.focal = rev.focal AND w.neighbor = rev.neighbor
),
rowsum AS (SELECT focal AS id, sum(weight) AS r FROM w GROUP BY focal),
colsum AS (SELECT neighbor AS id, sum(weight) AS c FROM w GROUP BY neighbor),
rc AS (
  SELECT coalesce(rowsum.id, colsum.id) AS id,
         coalesce(r, 0.0) + coalesce(c, 0.0) AS s
  FROM rowsum FULL OUTER JOIN colsum ON rowsum.id = colsum.id
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n,
  (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_edges,
  (SELECT CAST(round(sum(weight), 4) AS DOUBLE) FROM w) AS s0,
  (SELECT CAST(round(sum(sij * sij) / 2.0, 4) AS DOUBLE) FROM pair) AS s1,
  (SELECT CAST(round(sum(s * s), 4) AS DOUBLE) FROM rc) AS s2,
  (SELECT CAST(round(sum(w.weight * r.wr), 4) AS DOUBLE)
   FROM w JOIN rev r ON w.focal = r.focal AND w.neighbor = r.neighbor) AS trcw2,
  (SELECT CAST(round(sum(weight * weight), 4) AS DOUBLE) FROM w) AS trcwtw,
  CAST(round(
    (SELECT sum(weight * weight) FROM w)
    + (SELECT sum(w.weight * r.wr)
       FROM w JOIN rev r ON w.focal = r.focal AND w.neighbor = r.neighbor), 4)
   AS DOUBLE) AS trcwtw_ww"""

    xs, ys = geocode_sql("doc_id")
    _url = (
        "concat('https://site', CAST(doc_id % 1000 AS VARCHAR), '.example/p/', "
        "CAST(doc_id AS VARCHAR))"
    )
    o["pages_text_invariant"] = f"""
SELECT {_url} AS url, text, lang FROM documents ORDER BY url"""

    o["extract_text_bytes"] = """
SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id"""

    o["pages_tiles"] = f"""
WITH g AS (SELECT {_url} AS url, {xs} AS x, {ys} AS y FROM documents)
SELECT url,
  ((CAST(floor(x/100.0) AS BIGINT) + 1048576) << 21) + (CAST(floor(y/100.0) AS BIGINT) + 1048576) AS tile_r0,
  ((CAST(floor(x/10.0) AS BIGINT) + 1048576) << 21) + (CAST(floor(y/10.0) AS BIGINT) + 1048576) AS tile_r1
FROM g ORDER BY url"""

    # deterministic fake decode: n_frames = max(1, payload_bytes // 257),
    # frames every 4, frame_bytes = payload_bytes // n_frames; payload =
    # text repeated 8x, UTF-8 encoded.
    o["sample_frames_fake"] = """
WITH p AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, 8 * strlen(text) AS n FROM documents
),
f AS (SELECT url, n, greatest(n // 257, 1) AS nf FROM p)
SELECT url, CAST(u.i AS INT) AS frame_idx, CAST(n // nf AS BIGINT) AS frame_bytes
FROM f, LATERAL unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 4)) AS u(i)
ORDER BY url, frame_idx"""

    xo, yo = geocode_sql("o_orderkey")
    o["pip_join"] = f"""
WITH pos AS (SELECT c_custkey AS id, row_number() OVER (ORDER BY c_custkey) - 1 AS p FROM customer),
s AS (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS side FROM customer),
sq AS (SELECT id, (p % side) * 30.0 AS x0, (p // side) * 30.0 AS y0 FROM pos, s),
pts AS (SELECT o_orderkey AS id, {xo} AS x, {yo} AS y FROM orders)
SELECT pts.id AS point_id, sq.id AS polygon_id
FROM pts JOIN sq
  ON pts.x >= sq.x0 AND pts.x < sq.x0 + 10 AND pts.y >= sq.y0 AND pts.y < sq.y0 + 10
ORDER BY point_id, polygon_id"""
    # half-open box semantics match even-odd ray casting toward +x: for an
    # axis-aligned ring, x == x0 / y == y0 are inside, x == x1 / y == y1 out.

    # dissolved 2x2 blocks over the ragged lattice: perimeter of a union of
    # unit cells = 4*n_cells - 2*(interior walls)
    o["dissolve"] = f"""
WITH {_lattice_cte()},
lab AS (SELECT id, gx, gy, (gx // 2) * 1000 + (gy // 2) AS label FROM xy),
walls AS (
  SELECT a.label, count(*) AS w
  FROM lab a JOIN lab b
    ON a.label = b.label AND a.id < b.id
   AND abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
  GROUP BY a.label
),
parts AS (SELECT label, count(*) AS n FROM lab GROUP BY label)
SELECT parts.label,
       CAST(parts.n AS BIGINT) AS n_parts,
       CAST(round(4.0 * parts.n - 2.0 * coalesce(walls.w, 0), 6) AS DOUBLE) AS perimeter
FROM parts LEFT JOIN walls ON parts.label = walls.label
ORDER BY parts.label"""

    # axis-aligned rectangle intersection in closed form
    o["overlay"] = f"""
WITH {_lattice_cte()},
a AS (SELECT id, CAST(gx AS DOUBLE) AS x0, CAST(gy AS DOUBLE) AS y0 FROM xy),
b AS (SELECT id, gx + 0.5 AS x0, gy + 0.5 AS y0 FROM xy),
inter AS (
  SELECT a.id AS a_id, b.id AS b_id,
         greatest(0.0, least(a.x0 + 1, b.x0 + 1) - greatest(a.x0, b.x0))
       * greatest(0.0, least(a.y0 + 1, b.y0 + 1) - greatest(a.y0, b.y0)) AS area
  FROM a JOIN b
    ON abs(a.x0 - b.x0) < 1 AND abs(a.y0 - b.y0) < 1
)
SELECT a_id, b_id, CAST(round(area, 9) AS DOUBLE) AS area
FROM inter WHERE area > 0 ORDER BY a_id, b_id"""

    o["overlay_nonconvex"] = f"""
WITH {_lattice_cte()},
a AS (SELECT id, CAST(gx AS DOUBLE) AS x0, CAST(gy AS DOUBLE) AS y0 FROM xy),
b AS (SELECT id, gx + 0.5 AS x0, gy + 0.5 AS y0 FROM xy),
inter AS (
  SELECT a.id AS a_id, b.id AS b_id,
         greatest(0.0, least(a.x0 + 1, b.x0 + 1.5) - greatest(a.x0, b.x0))
       * greatest(0.0, least(a.y0 + 1, b.y0 + 0.75) - greatest(a.y0, b.y0))
       + greatest(0.0, least(a.x0 + 1, b.x0 + 0.75) - greatest(a.x0, b.x0))
       * greatest(0.0, least(a.y0 + 1, b.y0 + 1.5) - greatest(a.y0, b.y0 + 0.75))
         AS area
  FROM a JOIN b
    ON a.x0 < b.x0 + 1.5 AND b.x0 < a.x0 + 1
   AND a.y0 < b.y0 + 1.5 AND b.y0 < a.y0 + 1
)
SELECT a_id, b_id, CAST(round(area, 9) AS DOUBLE) AS area
FROM inter WHERE area > 0 ORDER BY a_id, b_id"""

    # --- text / dedup ---
    o["dedup_exact"] = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1 ORDER BY content_hash"""

    hash_cols = ",\n  ".join(
        "min(({a} * (('0x' || substr(md5(sh), 1, 15))::BIGINT % {p}) + {b}) % {p}) AS h{i}".format(
            a=D.minhash_coeffs(i)[0], b=D.minhash_coeffs(i)[1], p=D.MINHASH_P, i=i
        )
        for i in range(MINHASH_H)
    )
    rows_per_band = MINHASH_H // MINHASH_BANDS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('_', "
        + ", ".join(f"CAST(h{i} AS VARCHAR)" for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        + ")) AS band_hash FROM sig"
        for b in range(MINHASH_BANDS)
    )
    o["minhash_lsh_pairs"] = f"""
WITH {_shingle_cte()},
sig AS (SELECT doc_id, {hash_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b"""

    # transitive closure of the SAME pair set, min label per reachable set
    o["dedup_clusters"] = f"""
WITH RECURSIVE {_shingle_cte()},
sig AS (SELECT doc_id, {hash_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS BIGINT) AS keep_id
FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
GROUP BY d.doc_id ORDER BY doc_id"""

    o["ngram_jaccard"] = f"""
WITH {_shingle_cte()},
keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {NGRAM_MAX_DF}),
shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(round(i / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i / (sa.sz + sb.sz - i) > 0.1
ORDER BY doc_a, doc_b"""

    _simhash_cte = """
tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
bitsum AS (
  SELECT doc_id, bit, sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM (SELECT doc_id, hv, unnest(generate_series(0, 59)) AS bit FROM h)
  GROUP BY doc_id, bit
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsum GROUP BY doc_id
)"""
    o["simhash"] = f"WITH {_simhash_cte} SELECT doc_id, simhash FROM sim ORDER BY doc_id"
    o["simhash_near_pairs"] = f"""
WITH {_simhash_cte}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
ORDER BY doc_a, doc_b"""

    lang_unions = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{lg}' AS lang, CAST(len(regexp_extract_all(lower(text), "
        f"'\\b({'|'.join(ws)})\\b')) AS BIGINT) AS score FROM documents"
        for lg, ws in Q.LANG_MARKERS.items()
    )
    o["language_id"] = f"""
WITH scores AS ({lang_unions})
SELECT doc_id, lang AS lang_pred, score AS lang_score FROM (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rk
  FROM scores
) WHERE rk = 1 ORDER BY doc_id"""

    o["token_stats"] = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
                  length(text) AS n_chars FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                  / CAST(len(toks) AS DOUBLE), 6) AS DOUBLE) AS avg_token_len
FROM t ORDER BY doc_id"""

    en = "|".join(Q.LANG_MARKERS["en"])
    o["quality_score"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(lower(text), '\\b({en})\\b')) AS DOUBLE) AS stop,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS punct,
         CAST(length(text) AS DOUBLE) AS chars,
         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE) AS uniq
  FROM documents)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(round(stop / n_tok + 1e-9, 6) AS DOUBLE) AS stopword_ratio,
       CAST(round(punct / chars + 1e-9, 6) AS DOUBLE) AS punct_ratio,
       CAST(round(uniq / n_tok + 1e-9, 6) AS DOUBLE) AS uniq_ratio,
       CAST(round(least(greatest(0.0,
            0.4 * least(stop / n_tok * 5, 1.0)
          + 0.3 * (uniq / n_tok)
          + 0.3 * (1.0 - least(punct / chars * 10, 1.0))), 1.0) + 1e-9, 6) AS DOUBLE) AS quality
FROM t ORDER BY doc_id"""

    o["fingerprint"] = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')) AS fingerprint
FROM documents ORDER BY doc_id"""

    o["token_stats_bpe"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '{Q.BPE_ISH}')) AS BIGINT) AS bpe_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT doc_id, ws_tokens, bpe_tokens,
       CAST({portable_round_sql('n_chars / CAST(greatest(bpe_tokens, 1) AS DOUBLE)', 6)} AS DOUBLE) AS bytes_per_token
FROM t ORDER BY doc_id"""

    o["winnow_fingerprints"] = """
WITH g AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(substr(text, pos, 8)), 1, 15))::BIGINT AS h
  FROM documents,
       LATERAL unnest(generate_series(1, greatest(length(text) - 7, 1))) AS u(pos)
  WHERE doc_id < 200
),
w AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp FROM w ORDER BY doc_id, fp"""

    o["ann_cosine_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    round(
      list_aggregate(list_transform(generate_series(1, len(qv)),
          i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, len(qv)),
          i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, len(cv)),
          i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), 'sum')))
    , 6) AS cosine
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, neighbor_id, CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank"""

    def _cos_sql(av: str, bv: str) -> str:
        return f"""round(
      list_aggregate(list_transform(generate_series(1, len({av})),
          i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, len({av})),
          i -> CAST({av}[i] AS DOUBLE) * CAST({av}[i] AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, len({bv})),
          i -> CAST({bv}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)), 'sum')))
    , 6)"""

    o["ann_ivf_topk"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
cent AS (SELECT vec_id AS cid, embedding AS ct FROM v ORDER BY vec_id LIMIT 16),
assign AS (
  SELECT vec_id AS neighbor_id, cid FROM (
    SELECT v.vec_id, cent.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cos_sql('v.embedding', 'cent.ct')} DESC, cent.cid ASC) AS rk
    FROM v CROSS JOIN cent
  ) WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT v.vec_id, cent.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cos_sql('v.embedding', 'cent.ct')} DESC, cent.cid ASC) AS rk
    FROM v CROSS JOIN cent WHERE v.vec_id < 10
  ) WHERE rk <= 4
),
cand AS (
  SELECT DISTINCT probes.query_id, assign.neighbor_id
  FROM probes JOIN assign ON probes.cid = assign.cid
  WHERE probes.query_id <> assign.neighbor_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cosine
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank"""

    # --- ann_ivf_kmeans: replay the integer-Lloyd quantizer exactly ---
    # (kmeans_centroids_int: quantize floor(x*1e6+0.5); sample/init by
    # md5('11:'||id) order; 3 Lloyd rounds of int-L2 assign + floor-mean
    # update — all integer arithmetic, so SQL reproduces the centroids
    # bit-for-bit, then the same probe/list/rescore as ann_ivf_topk)
    def _l2_sql(av: str, bv: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({av}, {bv}), "
            "x -> (x[1]-x[2])*(x[1]-x[2])))"
        )

    _km_iters = ""
    for _t in range(3):
        _km_iters += f"""
asg{_t} AS (
  SELECT s.sid, s.qv,
         (SELECT c.cid FROM cent{_t} c
          ORDER BY {_l2_sql('s.qv', 'c.cv')}, c.cid LIMIT 1) AS cid
  FROM samp s
),
upd{_t} AS (
  SELECT cid, list(nc ORDER BY i) AS cv FROM (
    SELECT cid, i, CAST(floor(CAST(sum(vv) AS DOUBLE) / count(*)) AS BIGINT) AS nc
    FROM (SELECT a.cid, generate_subscripts(a.qv, 1) AS i, unnest(a.qv) AS vv FROM asg{_t} a)
    GROUP BY cid, i
  ) GROUP BY cid
),
cent{_t + 1} AS (
  SELECT p.cid, coalesce(u.cv, p.cv) AS cv
  FROM cent{_t} p LEFT JOIN upd{_t} u USING (cid)
),"""

    o["ann_ivf_kmeans"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
qc AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
  FROM v
),
ordd AS (
  SELECT vec_id, qv,
         row_number() OVER (ORDER BY md5('11:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rk
  FROM qc
),
samp AS (SELECT vec_id AS sid, qv FROM ordd WHERE rk < 256),
cent0 AS (SELECT rk AS cid, qv AS cv FROM ordd WHERE rk < 16),{_km_iters}
asgc AS (
  SELECT q.vec_id AS neighbor_id,
         (SELECT c.cid FROM cent3 c
          ORDER BY {_l2_sql('q.qv', 'c.cv')}, c.cid LIMIT 1) AS cid
  FROM qc q
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT q.vec_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_l2_sql('q.qv', 'c.cv')} ASC, c.cid ASC) AS rk
    FROM qc q CROSS JOIN cent3 c WHERE q.vec_id < 10
  ) WHERE rk <= 4
),
cand AS (
  SELECT DISTINCT probes.query_id, asgc.neighbor_id
  FROM probes JOIN asgc ON probes.cid = asgc.cid
  WHERE probes.query_id <> asgc.neighbor_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cosine
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank"""

    o["raster_contiguity"] = """
WITH cells AS (
  SELECT (event_id % 80) AS row, (event_id // 80) AS col
  FROM events WHERE event_id < 6400 AND value > 0
),
pts AS (SELECT row * 80 + col AS id, row, col FROM cells),
e AS (
  SELECT a.id AS focal, b.id AS neighbor
  FROM pts a JOIN pts b
    ON abs(a.row - b.row) <= 1 AND abs(a.col - b.col) <= 1 AND a.id <> b.id
)
""" + _iso_sql()

    o["odw_kron"] = f"""
WITH {_knn_cte('supplier', 3)},
nd AS (SELECT count(*) AS n FROM supplier),
prod AS (
  SELECT a.focal * nd.n + b.focal AS focal,
         a.neighbor * nd.n + b.neighbor AS neighbor
  FROM e a CROSS JOIN e b, nd
),
allids AS (SELECT p1.id * nd.n + p2.id AS id FROM pts p1, pts p2, nd)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM prod
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM allids WHERE id NOT IN (SELECT focal FROM prod)
ORDER BY focal, neighbor"""

    o["netw_shared_endpoint"] = """
WITH l AS (SELECT s_suppkey AS link_id, CAST(s_nationkey AS BIGINT) AS o,
                  s_suppkey % 7 AS d FROM supplier),
e AS (
  SELECT DISTINCT a.link_id AS focal, b.link_id AS neighbor
  FROM l a JOIN l b ON a.link_id <> b.link_id
   AND (a.o = b.o OR a.d = b.d OR a.o = b.d OR a.d = b.o)
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT link_id, link_id, CAST(0.0 AS DOUBLE) FROM l
WHERE link_id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    xo2, yo2 = geocode_sql("o_orderkey")
    xc2, yc2 = geocode_sql("o_custkey")
    _d4 = ("sqrt((a.ox-b.ox)*(a.ox-b.ox) + (a.oy-b.oy)*(a.oy-b.oy)"
           " + (a.dx-b.dx)*(a.dx-b.dx) + (a.dy-b.dy)*(a.dy-b.dy))")
    o["vecw_band4d"] = f"""
WITH pts AS (
  SELECT o_orderkey AS id, {xo2} AS ox, {yo2} AS oy, {xc2} AS dx, {yc2} AS dy
  FROM orders WHERE o_orderkey < 3000
),
e AS (
  SELECT a.id AS focal, b.id AS neighbor FROM pts a JOIN pts b
  ON a.id <> b.id AND {_d4} <= 120.0
)
{_iso_sql()}"""

    _knn_dist_cte = f"""
pts AS ({_pts_sql('customer')}),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
),
kn AS (
  SELECT focal, neighbor, dist FROM (
    SELECT focal, neighbor, dist,
           row_number() OVER (PARTITION BY focal ORDER BY dist ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk <= 10
)"""
    _gk = kernel_sql("gaussian", "kn.dist", "bw.bw")
    o["adaptive_kernel"] = f"""
WITH {_knn_dist_cte},
bw AS (SELECT focal, max(dist) AS bw FROM kn GROUP BY focal),
e AS (
  SELECT kn.focal, kn.neighbor, CAST(round({_gk}, 6) AS DOUBLE) AS weight
  FROM kn JOIN bw ON kn.focal = bw.focal
)
SELECT focal, neighbor, weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    _tk = kernel_sql("triangular", "kn.dist", "(SELECT max(dist) * 1.0000001 FROM kn)")
    o["kernel_fixed_knn_bw"] = f"""
WITH {_knn_dist_cte},
e AS (SELECT kn.focal, kn.neighbor, CAST(round({_tk}, 6) AS DOUBLE) AS weight FROM kn)
SELECT focal, neighbor, weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    xs3, ys3 = geocode_sql("s_suppkey")
    o["arc_knn"] = f"""
WITH ll AS (
  SELECT s_suppkey AS id, ({xs3}) * 0.36 - 180.0 AS lon, ({ys3}) * 0.18 - 90.0 AS lat
  FROM supplier
),
pts AS (SELECT id, lon AS x, lat AS y FROM ll),
xyz AS (
  SELECT id,
         cos(radians(lat)) * cos(radians(lon)) AS x3,
         cos(radians(lat)) * sin(radians(lon)) AS y3,
         sin(radians(lat)) AS z3
  FROM ll
),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x3-b.x3)*(a.x3-b.x3) + (a.y3-b.y3)*(a.y3-b.y3) + (a.z3-b.z3)*(a.z3-b.z3)) AS chord
  FROM xyz a JOIN xyz b ON a.id <> b.id
),
e AS (
  SELECT focal, neighbor FROM (
    SELECT focal, neighbor,
           row_number() OVER (PARTITION BY focal ORDER BY chord ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk <= 3
)
{_iso_sql()}"""

    def _slerp_sql(p, lon0, lat0, lon1, lat1, t):
        """CTE-stage text computing {p}lon/{p}lat = slerp; mirrors
        sphere.geointerpolate_cols term for term."""
        return f"""
{p}s1 AS (SELECT *, radians({lat0}) AS {p}f0, radians({lon0}) AS {p}l0,
                 radians({lat1}) AS {p}f1, radians({lon1}) AS {p}l1 FROM {p}src),
{p}s2 AS (SELECT *, 2*asin(sqrt(sin(({p}f1-{p}f0)/2)*sin(({p}f1-{p}f0)/2)
                 + cos({p}f0)*cos({p}f1)*sin(({p}l1-{p}l0)/2)*sin(({p}l1-{p}l0)/2))) AS {p}d FROM {p}s1),
{p}s3 AS (SELECT *,
    CASE WHEN sin({p}d) = 0 THEN 1.0 - {t} ELSE sin((1.0 - {t}) * {p}d) / sin({p}d) END AS {p}a,
    CASE WHEN sin({p}d) = 0 THEN {t} ELSE sin({t} * {p}d) / sin({p}d) END AS {p}b FROM {p}s2),
{p}s4 AS (SELECT *,
    {p}a*cos({p}f0)*cos({p}l0) + {p}b*cos({p}f1)*cos({p}l1) AS {p}x,
    {p}a*cos({p}f0)*sin({p}l0) + {p}b*cos({p}f1)*sin({p}l1) AS {p}y,
    {p}a*sin({p}f0) + {p}b*sin({p}f1) AS {p}z FROM {p}s3),
{p}out AS (SELECT *, degrees(atan2({p}y, {p}x)) AS {p}lon,
    degrees(atan2({p}z, sqrt({p}x*{p}x + {p}y*{p}y))) AS {p}lat FROM {p}s4)"""

    _gk = 20
    _lu, _au = -87.946389, 42.023768
    _ld, _ad = -87.524102, 41.644415
    o["geogrid"] = f"""
WITH g AS (
  SELECT r.r AS row, c.c AS col,
         r.r / {float(_gk)} AS ti, c.c / {float(_gk)} AS tj
  FROM (SELECT unnest(generate_series(0, {_gk})) AS r) r,
       (SELECT unnest(generate_series(0, {_gk})) AS c) c
),
Lsrc AS (SELECT * FROM g),
{_slerp_sql('L', _lu, _au, _lu, _ad, 'ti')},
Rsrc AS (SELECT * FROM Lout),
{_slerp_sql('R', _ld, _au, _ld, _ad, 'ti')},
Msrc AS (SELECT * FROM Rout),
{_slerp_sql('M', 'Llon', 'Llat', 'Rlon', 'Rlat', 'tj')}
SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col,
       CAST(round((CASE WHEN col = 0 THEN Llon WHEN col = {_gk} THEN Rlon ELSE Mlon END) + 1e-9, 6) AS DOUBLE) AS lon,
       CAST(round((CASE WHEN col = 0 THEN Llat WHEN col = {_gk} THEN Rlat ELSE Mlat END) + 1e-9, 6) AS DOUBLE) AS lat
FROM Mout ORDER BY row, col"""

    # Euler relation, with n and the hull count derived from geometry alone:
    # a is a hull vertex iff some b exists with every other c strictly on one
    # side of line (a, b)
    o["alpha_shape_auto"] = f"""
SELECT CAST(count(*) AS BIGINT) AS n_points,
       CAST(count(*) AS BIGINT) AS n_covered,
       CAST(1 AS BIGINT) AS euler
FROM ({_pts_sql('supplier')})"""

    o["delaunay_euler"] = f"""
WITH pts AS ({_pts_sql('supplier')}),
hull AS (
  SELECT DISTINCT a.id FROM pts a JOIN pts b ON b.id <> a.id
  WHERE NOT EXISTS (
    SELECT 1 FROM pts c
    WHERE c.id <> a.id AND c.id <> b.id
      AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) < 0
  )
),
agg AS (SELECT (SELECT count(*) FROM pts) AS n, (SELECT count(*) FROM hull) AS h)
SELECT CAST(n AS BIGINT) AS n,
       CAST(3 * n - 3 - h AS BIGINT) AS n_edges,
       CAST(2 * n - 2 - h AS BIGINT) AS n_triangles
FROM agg"""

    # clipped Voronoi cells partition the extent: count == points, Σarea ==
    # bbox area (the strongest scalar invariant of the polygon pipeline)
    o["voronoi_cells"] = f"""
WITH pts AS ({_pts_sql('supplier')})
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(round((max(x) - min(x)) * (max(y) - min(y)) + 1e-9, 2) AS DOUBLE) AS total_area
FROM pts"""

    # hull-clipped cells partition the convex hull: count == n, Σarea ==
    # hull area — hull vertices found by the same strictly-one-side test as
    # delaunay_euler, ordered by angle around their centroid, area by
    # shoelace with the closing term via first_value over the full frame
    o["voronoi_hull_cells"] = f"""
WITH pts AS ({_pts_sql('supplier')}),
hull AS (
  SELECT DISTINCT a.id, a.x, a.y FROM pts a JOIN pts b ON b.id <> a.id
  WHERE NOT EXISTS (
    SELECT 1 FROM pts c
    WHERE c.id <> a.id AND c.id <> b.id
      AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) < 0
  )
),
ctr AS (SELECT avg(x) AS cx, avg(y) AS cy FROM hull),
ord AS (
  SELECT h.x, h.y, atan2(h.y - c.cy, h.x - c.cx) AS ang FROM hull h, ctr c
),
seq AS (
  SELECT x, y,
         coalesce(lead(x) OVER w,
                  first_value(x) OVER (ORDER BY ang ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS nx,
         coalesce(lead(y) OVER w,
                  first_value(y) OVER (ORDER BY ang ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS ny
  FROM ord WINDOW w AS (ORDER BY ang)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_cells,
       CAST(round(abs(sum(x * ny - nx * y)) / 2.0 + 1e-9, 2) AS DOUBLE) AS total_area
FROM seq"""

    import math as _math

    _chord_1500 = 2.0 * _math.sin(1500.0 / (2.0 * 6371.0))
    o["arc_distance_band"] = f"""
WITH ll AS (
  SELECT s_suppkey AS id, ({xs3}) * 0.36 - 180.0 AS lon, ({ys3}) * 0.18 - 90.0 AS lat
  FROM supplier
),
pts AS (SELECT id, lon AS x, lat AS y FROM ll),
xyz AS (
  SELECT id,
         cos(radians(lat)) * cos(radians(lon)) AS x3,
         cos(radians(lat)) * sin(radians(lon)) AS y3,
         sin(radians(lat)) AS z3
  FROM ll
),
e AS (
  SELECT a.id AS focal, b.id AS neighbor
  FROM xyz a JOIN xyz b ON a.id <> b.id
  WHERE sqrt((a.x3-b.x3)*(a.x3-b.x3) + (a.y3-b.y3)*(a.y3-b.y3) + (a.z3-b.z3)*(a.z3-b.z3))
        <= {_chord_1500!r}
)
{_iso_sql()}"""

    _band_cust = f"""
pts AS ({_pts_sql('customer')}),
e AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND abs(a.x-b.x) <= {CUST_BAND_T} AND abs(a.y-b.y) <= {CUST_BAND_T}
   AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= {CUST_BAND_T}
)"""
    o["local_clustering"] = f"""
WITH {_band_cust},
deg AS (SELECT focal AS id, count(*) AS k FROM e GROUP BY focal),
tri AS (
  SELECT a.focal AS id, count(*) AS t
  FROM e a
  JOIN e b ON a.focal = b.focal AND a.neighbor <> b.neighbor
  JOIN e c ON c.focal = a.neighbor AND c.neighbor = b.neighbor
  GROUP BY a.focal
)
SELECT pts.id,
       CAST(round(CASE WHEN coalesce(deg.k, 0) > 1
                  THEN coalesce(tri.t, 0) / (deg.k * (deg.k - 1))
                  ELSE 0.0 END + 1e-9, 6) AS DOUBLE) AS clustering
FROM pts LEFT JOIN deg ON pts.id = deg.id LEFT JOIN tri ON pts.id = tri.id
ORDER BY pts.id"""

    o["connected_components"] = f"""
WITH RECURSIVE {_band_cust},
sym AS (SELECT focal, neighbor FROM e UNION SELECT neighbor, focal FROM e),
reach(a, b) AS (
  SELECT focal AS a, neighbor AS b FROM sym
  UNION
  SELECT r.a, s.neighbor FROM reach r JOIN sym s ON r.b = s.focal
)
SELECT pts.id, CAST(least(pts.id, coalesce(m.mn, pts.id)) AS BIGINT) AS component
FROM pts LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m ON pts.id = m.a
ORDER BY pts.id"""

    o["min_threshold_distance"] = f"""
WITH pts AS ({_pts_sql('supplier')}),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
),
kn AS (
  SELECT focal, dist FROM (
    SELECT focal, dist, row_number() OVER (PARTITION BY focal ORDER BY dist ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk = 1
)
SELECT CAST(round(max(dist) + 1e-9, 6) AS DOUBLE) AS min_threshold FROM kn"""

    o["rook_perimeter"] = f"""
WITH {_lattice_cte()}, {_lattice_edges('rook')}
SELECT focal, neighbor, CAST(2.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["bishop"] = f"""
WITH {_lattice_cte()},
e AS (SELECT a.id AS focal, b.id AS neighbor FROM xy a JOIN xy b
      ON abs(a.gx-b.gx) = 1 AND abs(a.gy-b.gy) = 1)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["w_clip"] = f"""
WITH {_band_cust},
kn AS (
  SELECT focal, neighbor FROM (
    SELECT a.id AS focal, b.id AS neighbor,
           row_number() OVER (PARTITION BY a.id
                              ORDER BY sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) ASC,
                                       b.id ASC) AS rk
    FROM pts a JOIN pts b ON a.id <> b.id
  ) WHERE rk <= {KNN_K}
),
clip AS (
  SELECT e.focal, e.neighbor, CAST(round(1.0 / e.dist, 6) AS DOUBLE) AS weight
  FROM e JOIN kn ON e.focal = kn.focal AND e.neighbor = kn.neighbor
)
SELECT focal, neighbor, weight FROM clip
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM pts WHERE id NOT IN (SELECT focal FROM clip)
ORDER BY focal, neighbor"""

    o["remap_ids"] = f"""
WITH {_band_cust}
SELECT focal * 2 + 1 AS focal, neighbor * 2 + 1 AS neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id * 2 + 1, id * 2 + 1, CAST(0.0 AS DOUBLE) FROM pts
WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    xsite, ysite = geocode_sql("site")
    o["knn_coplanar_cliques"] = f"""
WITH base AS (SELECT c_custkey AS id, c_custkey % 300 AS site FROM customer),
pts AS (SELECT id, {xsite} AS x, {ysite} AS y FROM base),
sites AS (SELECT x, y, min(id) AS site_id FROM pts GROUP BY x, y),
scand AS (
  SELECT a.site_id AS f, b.site_id AS n,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM sites a JOIN sites b ON a.site_id <> b.site_id
),
sknn AS (
  SELECT f, n FROM (
    SELECT f, n, row_number() OVER (PARTITION BY f ORDER BY dist ASC, n ASC) AS rk
    FROM scand
  ) WHERE rk <= 2
),
members AS (SELECT pts.id, sites.site_id FROM pts JOIN sites ON pts.x = sites.x AND pts.y = sites.y),
expanded AS (
  SELECT mf.id AS focal, mn.id AS neighbor
  FROM sknn JOIN members mf ON mf.site_id = sknn.f JOIN members mn ON mn.site_id = sknn.n
),
cliques AS (
  SELECT a.id AS focal, b.id AS neighbor
  FROM members a JOIN members b ON a.site_id = b.site_id AND a.id <> b.id
),
e AS (SELECT DISTINCT focal, neighbor FROM (
  SELECT focal, neighbor FROM expanded UNION ALL SELECT focal, neighbor FROM cliques))
{_iso_sql()}"""

    o["embedding_near_dup"] = """
WITH v AS (SELECT vec_id, embedding FROM embeddings),
scored AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
    round(
      list_aggregate(list_transform(generate_series(1, len(a.embedding)),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, len(a.embedding)),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, len(b.embedding)),
          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')))
    , 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, CAST(cosine AS DOUBLE) AS cosine FROM scored
WHERE cosine > 0.35 ORDER BY doc_a, doc_b"""

    # SRP-LSH candidates replayed bit-for-bit: the pseudo-plane component for
    # (table t, plane p, dim d) is the SAME hash arithmetic as
    # text/ann.py:_srp_bucket_col — ((p*1000003 + d*7919 + seed_t)*2654435761 %
    # 1e6)/5e5 - 1 with seed_t = SRP_SEED + 101*t — so candidate sets (and the
    # exact-rescored output) are engine-invariant.
    o["embedding_near_dup_srp"] = f"""
WITH v AS (SELECT vec_id, embedding, len(embedding) AS dim FROM embeddings),
tabs AS (SELECT unnest(generate_series(0, {SRP_TABLES - 1})) AS tbl),
planes AS (SELECT unnest(generate_series(0, {SRP_PLANES - 1})) AS p),
proj AS (
  SELECT v.vec_id, tabs.tbl, planes.p,
    list_aggregate(list_transform(generate_series(1, v.dim),
      i -> CAST(v.embedding[i] AS DOUBLE) *
           (CAST(((planes.p*1000003 + (i-1)*7919 + ({SRP_SEED} + 101*tabs.tbl))
                   * 2654435761) % 1000000 AS DOUBLE)/500000.0 - 1.0)
    ), 'sum') AS pr
  FROM v, tabs, planes
),
buck AS (
  SELECT vec_id, tbl,
    CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2.0, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM buck a JOIN buck b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
    round(
      list_aggregate(list_transform(generate_series(1, a.dim),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, a.dim),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, b.dim),
          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')))
    , 6) AS cosine
  FROM cand c JOIN v a ON a.vec_id = c.doc_a JOIN v b ON b.vec_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(cosine AS DOUBLE) AS cosine FROM scored
WHERE cosine > 0.35 ORDER BY doc_a, doc_b"""

    # diamonds of half-diagonal 0.6 at unit spacing: overlap horizontally and
    # vertically (1.2 > 1) but not diagonally (1.2 < sqrt(2)) -> rook adjacency
    o["fuzzy_contiguity"] = f"""
WITH {_lattice_cte()}, {_lattice_edges('rook')}
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    # disjoint diamonds; dilated islands overlap exactly rook-wise
    o["nonplanar_neighbors"] = f"""
WITH {_lattice_cte()}, {_lattice_edges('rook')}
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    xsj, ysj = geocode_sql("site")
    _jit = (
        "(('0x' || substr(md5(concat('0:{ax}:', CAST(id AS VARCHAR))), 1, 15))::BIGINT "
        "% 2000001 - 1000000) / 1000000.0 * 0.5"
    )
    o["knn_jitter"] = f"""
WITH base AS (SELECT c_custkey AS id, c_custkey % 300 AS site FROM customer),
p0 AS (SELECT id, {xsj} AS x, {ysj} AS y FROM base),
pts AS (SELECT id,
               x + {_jit.format(ax='x')} AS x,
               y + {_jit.format(ax='y')} AS y
        FROM p0),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
),
e AS (
  SELECT focal, neighbor FROM (
    SELECT focal, neighbor,
           row_number() OVER (PARTITION BY focal ORDER BY dist ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk <= 3
)
{_iso_sql()}"""

    o["attach_islands"] = f"""
WITH {_band_cust},
isl AS (SELECT id FROM pts WHERE id NOT IN (SELECT focal FROM e)),
cand AS (
  SELECT a.id AS focal, b.id AS neighbor,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
  WHERE a.id IN (SELECT id FROM isl)
),
nn AS (
  SELECT focal, neighbor FROM (
    SELECT focal, neighbor, row_number() OVER (PARTITION BY focal ORDER BY dist ASC, neighbor ASC) AS rk
    FROM cand
  ) WHERE rk = 1
),
att AS (
  SELECT DISTINCT focal, neighbor FROM (
    SELECT focal, neighbor FROM e
    UNION ALL SELECT focal, neighbor FROM nn
    UNION ALL SELECT neighbor AS focal, focal AS neighbor FROM nn
  )
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM att
ORDER BY focal, neighbor"""

    # T-junction columns: heights cycle 1, 1/2, 1/3 by column; expressions
    # mirror the Spark ring construction EXACTLY (y_top = gy*h + h) so float
    # comparisons agree bit-for-bit.
    _tj = f"""
{_lattice_cte()},
r AS (SELECT id, gx, gy, 1.0/((gx % 3) + 1) AS h FROM xy),
vert AS (
  SELECT a.id AS focal, b.id AS neighbor FROM r a JOIN r b
    ON a.gx = b.gx AND abs(a.gy - b.gy) = 1
),
lat AS (
  SELECT a.id AS f, b.id AS n,
         least((a.gy+1)*a.h, (b.gy+1)*b.h) - greatest(a.gy*a.h, b.gy*b.h) AS ov
  FROM r a JOIN r b ON b.gx = a.gx + 1
)"""
    o["rook_strict"] = f"""
WITH {_tj},
e AS (
  SELECT focal, neighbor FROM vert
  UNION SELECT f, n FROM lat WHERE ov > 0
  UNION SELECT n, f FROM lat WHERE ov > 0
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["queen_strict"] = f"""
WITH {_tj},
e AS (
  SELECT focal, neighbor FROM vert
  UNION SELECT f, n FROM lat WHERE ov >= 0
  UNION SELECT n, f FROM lat WHERE ov >= 0
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    xo4, yo4 = geocode_sql("o_orderkey")
    o["cell_graph"] = f"""
WITH pts AS (SELECT o_orderkey AS id, {xo4} AS x, {yo4} AS y FROM orders),
cells AS (SELECT DISTINCT CAST(floor(x/50.0) AS BIGINT) AS cx,
                          CAST(floor(y/50.0) AS BIGINT) AS cy FROM pts),
ids AS (SELECT ((cx + 1048576) << 21) + (cy + 1048576) AS id, cx, cy FROM cells),
e AS (
  SELECT a.id AS focal, b.id AS neighbor,
         greatest(abs(a.cx-b.cx), abs(a.cy-b.cy)) AS ring
  FROM ids a JOIN ids b
    ON a.id <> b.id AND abs(a.cx-b.cx) <= 2 AND abs(a.cy-b.cy) <= 2
)
SELECT focal, neighbor, CAST(round(1.0/ring, 6) AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM ids WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["hex_lattice"] = """
WITH s AS (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS side FROM customer),
nodes AS (
  SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS id FROM customer, s
  QUALIFY id < (SELECT side*side FROM s)
),
xy AS (SELECT id, id // (SELECT side FROM s) AS r, id % (SELECT side FROM s) AS c FROM nodes),
diag AS (
  SELECT a.id AS f, b.id AS n FROM xy a JOIN xy b
    ON a.c % 2 = 1 AND b.r = a.r + 1 AND abs(b.c - a.c) = 1
),
e AS (
  SELECT a.id AS focal, b.id AS neighbor FROM xy a JOIN xy b
    ON abs(a.r-b.r) + abs(a.c-b.c) = 1
  UNION SELECT f, n FROM diag
  UNION SELECT n, f FROM diag
)
SELECT focal, neighbor, CAST(1.0 AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM xy WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    o["contiguity_order"] = f"""
WITH {_lattice_cte()}, {_lattice_edges('queen')},
o2 AS (
  SELECT DISTINCT a.focal, b.neighbor FROM e a JOIN e b ON a.neighbor = b.focal
  WHERE a.focal <> b.neighbor
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.focal = a.focal AND e.neighbor = b.neighbor)
),
o3 AS (
  SELECT DISTINCT a.focal, b.neighbor FROM o2 a JOIN e b ON a.neighbor = b.focal
  WHERE a.focal <> b.neighbor
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.focal = a.focal AND e.neighbor = b.neighbor)
    AND NOT EXISTS (SELECT 1 FROM o2 WHERE o2.focal = a.focal AND o2.neighbor = b.neighbor)
)
SELECT focal, neighbor, CAST(1 AS INT) AS "order" FROM e
UNION ALL SELECT focal, neighbor, CAST(2 AS INT) FROM o2
UNION ALL SELECT focal, neighbor, CAST(3 AS INT) FROM o3
ORDER BY focal, neighbor"""

    o["shimbel"] = """
WITH RECURSIVE
s AS (SELECT LEAST(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS side FROM customer),
xy AS (
  SELECT i AS id, i // (SELECT side FROM s) AS r, i % (SELECT side FROM s) AS c
  FROM (SELECT unnest(generate_series(0, (SELECT side*side FROM s) - 1)) AS i)
),
e AS (
  SELECT a.id AS focal, b.id AS neighbor FROM xy a JOIN xy b
    ON abs(a.r-b.r) + abs(a.c-b.c) = 1
),
walk(focal, neighbor, ord) AS (
  SELECT focal, neighbor, 1 FROM e
  UNION
  SELECT w.focal, e.neighbor, w.ord + 1
  FROM walk w JOIN e ON e.focal = w.neighbor
  WHERE w.focal <> e.neighbor AND w.ord < 2 * (SELECT side FROM s)
)
SELECT focal, neighbor, CAST(min(ord) AS INT) AS "order"
FROM walk GROUP BY focal, neighbor ORDER BY focal, neighbor"""

    o["dense_id_mapping"] = """
SELECT c_custkey AS old,
       CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS new
FROM customer ORDER BY old"""

    o["cardinality_histogram"] = f"""
WITH {_band_cte('orders', BAND_T)},
deg AS (SELECT focal AS id, count(*) AS c FROM e GROUP BY focal),
card AS (
  SELECT pts.id, CAST(coalesce(deg.c, 0) AS BIGINT) AS cardinality
  FROM pts LEFT JOIN deg ON pts.id = deg.id
)
SELECT cardinality, CAST(count(*) AS BIGINT) AS n_nodes
FROM card GROUP BY cardinality ORDER BY cardinality"""

    xu, yu = geocode_sql("user_id")
    o["event_tile_rollup"] = f"""
WITH tiled AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(floor(({xu})/100.0) AS BIGINT) * 100
           + CAST(floor(({yu})/100.0) AS BIGINT) AS tile,
         value
  FROM events
)
SELECT hour, tile,
       CAST(count(*) AS BIGINT) AS events,
       CAST({portable_round_sql(det_sum_sql('value'), 4)} AS DOUBLE) AS value_sum
FROM tiled GROUP BY hour, tile ORDER BY hour, tile"""

    o["travel_cost_graph"] = """
WITH adj AS (
  SELECT l_orderkey % 500 AS focal, l_suppkey AS neighbor,
         min(l_quantity) AS cost
  FROM lineitem WHERE l_quantity <= 25.0 GROUP BY 1, 2
),
ids AS (SELECT DISTINCT focal AS id FROM adj),
e AS (SELECT focal, neighbor, cost FROM adj WHERE focal <> neighbor)
SELECT focal, neighbor, CAST(round(cost, 4) AS DOUBLE) AS weight FROM e
UNION ALL
SELECT id, id, CAST(0.0 AS DOUBLE) FROM ids WHERE id NOT IN (SELECT focal FROM e)
ORDER BY focal, neighbor"""

    # all edge costs are exact multiples of 0.25, so path sums are exact in
    # binary float — the recursive enumeration (bounded by threshold over
    # positive costs) min-reduces to identical doubles on both engines
    o["travel_cost_routed"] = """
WITH RECURSIVE
n AS (SELECT CAST(s_suppkey AS BIGINT) AS id FROM supplier),
cnt AS (SELECT max(id) AS N FROM n),
edges AS (
  SELECT id AS src, (id % N) + 1 AS dst,
         CAST(1.0 + (id % 5) * 0.25 AS DOUBLE) AS cost FROM n, cnt
  UNION ALL
  SELECT id, ((id * 7) % N) + 1,
         CAST(3.0 + (id % 3) * 0.5 AS DOUBLE) FROM n, cnt
),
e2 AS (SELECT * FROM edges WHERE src <> dst),
s0 AS (SELECT id FROM n WHERE id % 10 = 1),
walk(origin, node, d) AS (
  SELECT id, id, CAST(0.0 AS DOUBLE) FROM s0
  UNION
  SELECT w.origin, e.dst, w.d + e.cost
  FROM walk w JOIN e2 e ON e.src = w.node
  WHERE w.d + e.cost <= 6.0
)
SELECT origin, node AS destination, CAST(round(min(d), 6) AS DOUBLE) AS cost
FROM walk GROUP BY origin, node
ORDER BY origin, destination"""

    return o
