"""Integer-grid tiling: the engine's spatial index.

The reference prunes candidate pairs with in-memory trees (KDTree at
cg/kdtree.py:33, STRtree at graph/_contiguity.py:127, Grid/RTree/quadtree in
cg/locators.py / cg/rtree.py). None of those distribute. Our substitute is a
*grid cell column*: ``cell = (floor(x / s), floor(y / s))`` packed into one
int64. It is

- a pure native column expression (whole-stage codegen, no UDF, no Python);
- a shuffle/bucketing key (co-locates nearby points);
- a partition-pruning key when the table is written partitioned by a coarse
  cell;
- deterministic and cluster-size-invariant (BASELINE north_rule).

Geometric guarantee used by every range/kNN join: two points whose cells
differ by more than ``r`` in either axis (Chebyshev) are strictly farther than
``r * s`` apart. Hence a ring-``r`` cell join is a superset of all pairs
within ``r * s``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Pack (cell_x, cell_y) into one int64: 2^21 cells per axis of offset range.
# At cell size 1m that covers ±2000 km; callers pick cell size per dataset.
_PACK_BITS = 21
_PACK_OFF = 1 << (_PACK_BITS - 1)
_PACK_MASK = (1 << _PACK_BITS) - 1


#: memoized small-input decisions: (sorted file tuple, target) -> bool
_PAR_DECISIONS: dict = {}


def ensure_min_parallelism(
    df: DataFrame, target: int | None = None, min_bytes_per_task: int = 65536
) -> DataFrame:
    """Round-robin repartition iff the plan reads a SMALL file set — a
    parallelism floor for compute-heavy operators (guide §2.6 idle capacity /
    §6 input splits).

    Single-row-group parquet inputs produce 1-split scans no matter what
    ``maxPartitionBytes``/``openCostInBytes`` say — Spark assigns whole row
    groups to splits — so every compute-heavy operator chained onto such a
    scan (candidate joins, kernel evaluation, shingle hashing) runs on ONE
    core while the rest of the cluster idles. The repartition costs one tiny
    exchange of the base rows and restores full parallelism downstream.

    r6 second pass: the exchange HASHES on all of the DataFrame's columns
    instead of round-robin — measured 0.15 vs 0.24 s on the sf0.1 orders
    projection, because keyless round-robin first sorts every input
    partition (SPARK-23207) while a hash of the row values is
    retry-deterministic for free. Callers pass keyed tables (unique
    ids/doc-ids), so the hash spreads far more distinct values than
    partitions (guide §2.5).

    The probe is ``inputFiles()`` + a local stat (millisecond-cheap,
    memoized) — NOT ``df.rdd.getNumPartitions()``, which compiles the whole
    plan to an RDD DAG and measured 0.2-0.4 s per call on this host. When
    the input is not a statable file scan (checkpoints, shuffled
    intermediates, object stores) the plan is left untouched — those
    sources already carry their producer's parallelism.

    The fan-out is PROPORTIONAL to input bytes (one task per
    ``min_bytes_per_task`` of source, capped at the core count) and skipped
    entirely below 8 tasks' worth — for truly tiny inputs the exchange's
    stage-scheduling cost exceeds any parallel-compute win. Operators whose
    per-byte compute is super-linear (the candidate self-joins) pass a
    smaller ``min_bytes_per_task`` to force a wider spread.

    Scale-adaptive by construction: at production scale the scan has more
    files than cores (or more bytes than cores x maxPartitionBytes), the
    branch is not taken, and the plan is untouched — this is a FLOOR, not a
    local tuning constant.
    """
    spark = df.sparkSession
    t = int(target or spark.sparkContext.defaultParallelism)
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= t:
        return df
    key = (tuple(sorted(files)), t, int(min_bytes_per_task))
    parts = _PAR_DECISIONS.get(key)
    if parts is None:
        import os
        from urllib.parse import urlparse

        total = 0
        for f in files:
            p = urlparse(f).path or f
            try:
                total += os.path.getsize(p)
            except OSError:
                # non-local filesystem: no cheap stat; leave the plan alone
                _PAR_DECISIONS[key] = 0
                return df
        if total >= t * 4 * 1024 * 1024:
            # enough bytes for the scan to fan out on its own
            parts = 0
        else:
            parts = min(t, int(total // min_bytes_per_task) or 1)
            if parts < 8:
                parts = 0
        _PAR_DECISIONS[key] = parts
    if not parts:
        return df
    return df.repartition(parts, *[F.col(c) for c in df.columns])


def pack_cell(cx: Column, cy: Column) -> Column:
    """Pack two signed cell indices into one int64 join key."""
    return (
        F.shiftleft((cx + F.lit(_PACK_OFF)).cast("long"), _PACK_BITS)
        + (cy + F.lit(_PACK_OFF)).cast("long")
    )


def with_cells(
    df: DataFrame, size: float, x: str = "x", y: str = "y", prefix: str = "cell"
) -> DataFrame:
    """Add ``{prefix}_x``, ``{prefix}_y`` (grid indices) and packed ``{prefix}``."""
    cx = F.floor(F.col(x) / F.lit(float(size)))
    cy = F.floor(F.col(y) / F.lit(float(size)))
    return (
        df.withColumn(f"{prefix}_x", cx)
        .withColumn(f"{prefix}_y", cy)
        .withColumn(prefix, pack_cell(F.col(f"{prefix}_x"), F.col(f"{prefix}_y")))
    )


def polygon_cells(polygons: DataFrame, size: float) -> DataFrame:
    """(id, vertices, cell): each polygon exploded to the packed cells covering
    its bbox — the polygon side of every grid-tiling join (point-in-polygon,
    polygon-pair candidates, overlay)."""
    s = float(size)
    bbox = polygons.select(
        "id",
        "vertices",
        F.floor(F.array_min(F.transform("vertices", lambda v: v["x"])) / s).alias("cx0"),
        F.floor(F.array_max(F.transform("vertices", lambda v: v["x"])) / s).alias("cx1"),
        F.floor(F.array_min(F.transform("vertices", lambda v: v["y"])) / s).alias("cy0"),
        F.floor(F.array_max(F.transform("vertices", lambda v: v["y"])) / s).alias("cy1"),
    )
    return (
        bbox.withColumn("cx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("cy", F.explode(F.sequence("cy0", "cy1")))
        .select("id", "vertices", pack_cell(F.col("cx"), F.col("cy")).alias("cell"))
    )
