"""10x scale rehearsal (VERDICT r3 #1): run the heavy builders on an
sf1-equivalent synthetic fixture and record wall / rows / rows-per-sec plus
the internals the plans rely on (knn ring rounds + residue, delaunay halo +
retries, shuffle-partition balance).

The fixture is generated with the ENGINE'S OWN deterministic geocoder
(pages.geocode_exprs over spark.range — the identical id->point formula the
graded queries use), at 10x the sf0.1 row counts. Density is held constant
by scaling distance thresholds by 1/sqrt(10): web-scale growth means more
area covered, not a denser planet — and constant density is what keeps the
per-cell candidate counts (the actual task sizes) fixed as rows grow, which
is the property being rehearsed.

Embeddings are hash-derived unit vectors (deterministic, no RNG), 10x the
sf0.1 corpus at the same dim.

Usage: python scripts/scale_rehearsal.py [--mult 10]
Writes scale_rehearsal.json in the repo root; BENCH.md cites it.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from libpysal_spark import get_spark
from libpysal_spark.pages import geocode_exprs

MULT = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "10"))
# the rehearsal measures the DISTRIBUTED component path (the 100 TB plan);
# disable the broadcast-scale driver gate so small MULTs don't short-circuit
# the evidence (r6 — component_labels driver_cap)
os.environ.setdefault("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
SQ = math.sqrt(MULT)
# comma-separated subset of result names to run (VERDICT r4 #7: the 100x
# pass exercises distance_band/knn/components only — delaunay and the exact
# near-dup GEMM have their own dedicated scale evidence)
ONLY = {
    s for s in os.environ.get("SPARK_GRAFT_SCALE_ONLY", "").split(",") if s
}

# sf0.1 row counts (TESTDATA.md) x MULT
N_ORDERS = 150_000 * MULT
N_CUSTOMER = 15_000 * MULT
N_EMB = 2_000 * MULT
N_DELAUNAY = 100_000  # 100x the graded supplier table — the partitioned path
EMB_DIM = 64


def synth_points(spark, n: int):
    x, y = geocode_exprs("id")
    return spark.range(n, numPartitions=64).select("id", x.alias("x"), y.alias("y"))


def synth_embeddings(spark, n: int):
    """Deterministic pseudo-embeddings: components from multiplicative
    hashing in [-1, 1) (same arithmetic family as the geocoder); cosine
    normalizes, so no explicit normalization needed."""
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
        lambda i: (
            ((F.col("id") * 2654435761 + i * 40503 + (F.col("id") + i) * 2246822519)
             % 1000003) / 500001.5 - 1.0
        ).cast("float"),
    )
    return spark.range(n, numPartitions=32).select(
        F.col("id").alias("vec_id"), comp.alias("embedding")
    )


def partition_balance(df) -> dict:
    """Rows per output partition of the final stage — skew evidence."""
    c = df.groupBy(F.spark_partition_id().alias("p")).count()
    r = c.agg(
        F.max("count").alias("mx"), F.avg("count").alias("avg"),
        F.count("*").alias("parts"),
    ).first()
    return {
        "partitions": int(r.parts),
        "max_rows": int(r.mx),
        "mean_rows": int(r.avg),
        "max_over_mean": round(r.mx / r.avg, 2) if r.avg else None,
    }


def main():
    spark = get_spark(app_name="scale-rehearsal", cores=32)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"mult": MULT, "results": {}}

    def run(name, fn, info=None):
        if ONLY and name not in ONLY:
            return
        t0 = time.time()
        rows = fn()
        dt = round(time.time() - t0, 2)
        rec = {"wall_sec": dt, "out_rows": rows,
               "rows_per_sec": round(rows / dt, 1) if dt else None}
        if info:
            rec.update(info())
        out["results"][name] = rec
        print(name, json.dumps(rec), flush=True)

    orders = synth_points(spark, N_ORDERS).localCheckpoint()
    customer = synth_points(spark, N_CUSTOMER).localCheckpoint()

    from libpysal_spark.operators import distance as DIST
    from libpysal_spark.operators.distance import distance_band, knn

    band_t = 12.0 / SQ  # constant expected degree vs sf0.1
    _band_g = {}

    def _band():
        g = distance_band(orders, band_t)
        n = g.edges.count()
        _band_g["g"] = g
        return n

    run("distance_band_build", _band, lambda: {"threshold": round(band_t, 4)})
    # skew evidence measured OUTSIDE the timed region (it recomputes the join)
    if "g" in _band_g:
        out["results"]["distance_band_build"]["balance"] = partition_balance(
            _band_g["g"].edges
        )

    def _knn():
        return knn(orders, 10).edges.count()

    run("knn10_build", _knn, lambda: dict(DIST.last_knn_info))

    from libpysal_spark.operators import delaunay as DY

    dpts = (
        synth_points(spark, N_DELAUNAY).localCheckpoint()
        if not ONLY or "delaunay_partitioned_100k_cells8" in ONLY
        else None
    )

    def _delaunay():
        return DY.delaunay(dpts, cells_per_side=8).edges.count()

    run("delaunay_partitioned_100k_cells8", _delaunay,
        lambda: dict(DY.last_build_info))

    from libpysal_spark.text.ann import cosine_threshold_pairs

    emb = (
        synth_embeddings(spark, N_EMB).localCheckpoint()
        if not ONLY or "embedding_near_dup" in ONLY
        else None
    )

    def _neardup():
        return cosine_threshold_pairs(emb, 0.35, blocks=24).count()

    run("embedding_near_dup", _neardup, lambda: {"n_vectors": N_EMB, "blocks": 24})

    from libpysal_spark import graph as GRAPH

    def _components():
        g = distance_band(customer, 20.0 / SQ)
        return g.component_labels().select("component").distinct().count()

    run(
        "connected_components",
        _components,
        lambda: dict(getattr(GRAPH, "last_components_info", {})),
    )

    # --- LLM-pipeline rehearsal (VERDICT r5 #8): dedup_clusters +
    # simhash_near_pairs at MULT x docs, with PLANTED near-dup pairs (every
    # doc with id % 20 == 1 is a one-token variant of id-1), so candidate
    # growth vs true pairs is observable.
    from libpysal_spark.text import dedup as D

    N_DOCS = 5_000 * MULT
    PLANTED = N_DOCS // 20

    def synth_docs(spark, n: int):
        near = F.col("id") % 20 == 1
        src = F.when(near, F.col("id") - 1).otherwise(F.col("id"))
        toks = F.transform(
            F.sequence(F.lit(0), F.lit(49)),
            lambda i: F.when(
                near & (i == F.lit(7)),
                F.concat(F.lit("v"), F.col("id").cast("string")),
            ).otherwise(
                # xxhash64(src, i): genuinely pseudo-random tokens. Linear /
                # arithmetic-progression formulas tried first made whole doc
                # families identical or shifted copies of each other (gcd and
                # overlapping-progression artifacts), flooding the candidate
                # space with millions of unplanned true near-dups.
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(src, i), F.lit(5000)).cast("string"),
                )
            ),
        )
        return spark.range(n, numPartitions=64).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", toks).alias("text")
        )

    docs_needed = not ONLY or bool(
        {"minhash_lsh_pairs", "dedup_clusters", "simhash_near_pairs"} & ONLY
    )
    docs = synth_docs(spark, N_DOCS).localCheckpoint() if docs_needed else None

    def _minhash_pairs():
        return D.minhash_candidates(docs).count()

    run("minhash_lsh_pairs", _minhash_pairs,
        lambda: {"n_docs": N_DOCS, "planted_pairs": PLANTED})

    from libpysal_spark import graph as GRAPH2

    def _clusters():
        return (
            D.dedup_clusters(docs, D.minhash_candidates(docs))
            .filter(F.col("keep_id") != F.col("doc_id"))
            .count()
        )

    run("dedup_clusters_merged_docs", _clusters,
        lambda: {"n_docs": N_DOCS, "planted_pairs": PLANTED,
                 **{f"cc_{k}": v for k, v in
                    getattr(GRAPH2, "last_components_info", {}).items()}})

    def _simhash_pairs():
        return D.simhash_near_pairs(D.simhash(docs), max_hamming=6).count()

    run("simhash_near_pairs", _simhash_pairs,
        lambda: {"n_docs": N_DOCS, "planted_pairs": PLANTED})

    # --- alpha_shape_auto distributed selection (VERDICT r5 #3): force the
    # scale path (max_driver_tris=0) on the 100k-point set — no O(#tris)
    # collect; only per-candidate verdicts reach the driver.
    _alpha_info = {}

    def _alpha_auto():
        if dpts is None:
            return 0
        alpha, radius, kept = DY.alpha_shape_auto(
            dpts, cells_per_side=8, max_driver_tris=0
        )
        _alpha_info["chosen_radius"] = radius
        return kept.count()

    run("alpha_shape_auto_distributed", _alpha_auto,
        lambda: {"n_points": N_DELAUNAY, "path": "distributed", **_alpha_info})

    # --- nodes_in_range at 10x network (VERDICT r5 #5): ring + chord graph
    # over 10 x 1000 nodes, origins = 10% — frontier-sized rounds.
    from libpysal_spark.operators import network as NET

    def _routed():
        n_nodes = 1_000 * MULT
        nodes = spark.range(1, n_nodes + 1).select(F.col("id"))
        ring = nodes.select(
            F.col("id").alias("src"),
            (F.col("id") % n_nodes + 1).alias("dst"),
            (1.0 + (F.col("id") % 5) * 0.25).alias("cost"),
        )
        chord = nodes.select(
            F.col("id").alias("src"),
            ((F.col("id") * 7) % n_nodes + 1).alias("dst"),
            (3.0 + (F.col("id") % 3) * 0.5).alias("cost"),
        )
        edges = ring.unionByName(chord).filter(F.col("src") != F.col("dst"))
        origins = nodes.filter(F.col("id") % 10 == 1)
        return NET.nodes_in_range(edges, origins, threshold=6.0).count()

    run("nodes_in_range_10x", _routed,
        lambda: dict(getattr(NET, "last_route_info", {})))

    fname = (
        "scale_rehearsal.json" if MULT == 10 else f"scale_rehearsal_{MULT}x.json"
    )
    with open(os.path.join(REPO, fname), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
