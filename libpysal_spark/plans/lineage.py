"""Per-partition lineage + metrics, and exact resume (north_rule).

The reference is all-or-nothing in memory; this engine's builds are long
multi-stage jobs over ~10^12 rows, so the write path must be *resumable*:

- output is partitioned by a content-derived key (a coarse tile cell, a key
  bucket — any column with bounded cardinality);
- a manifest (``_lineage.json``) records, per partition: row count, an
  order-independent content checksum (sum of xxhash64 over the row's
  columns), and commit status;
- a re-run of the same write SKIPS committed partitions (filtered out before
  any compute — with partition pruning the skipped work never leaves the
  scan) and appends only the missing ones;
- ``verify(path)`` recomputes checksums from storage and compares.

On Iceberg this would ride snapshots + table properties; on plain parquet the
manifest is an explicit sidecar, which also makes the mechanism engine-neutral
and testable here. Checksums are order-independent (sums), so they are
invariant to partitioning/cluster size — the same invariance contract as the
canonical edge sort.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_lineage.json"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def load_manifest(path: str) -> dict:
    p = _manifest_path(path)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"partitions": {}}


def _checksum_cols(df: DataFrame, partition_col: str):
    data_cols = [c for c in df.columns if c != partition_col]
    # pmod before summing: ANSI mode forbids wrap-around on raw xxhash64
    # sums; values < 1e9 keep the sum overflow-free up to ~9e9 rows per
    # partition (far above any sane partition size).
    return [
        F.count("*").alias("rows"),
        F.sum(F.pmod(F.xxhash64(*data_cols), F.lit(1_000_000_007))).alias("checksum"),
    ]


def write_with_lineage(
    df: DataFrame, path: str, partition_col: str, mode: str = "resume"
) -> dict:
    """Write ``df`` partitioned by ``partition_col`` with lineage manifest.

    mode='resume' (default): skip partitions already committed in the
    manifest; mode='overwrite': start fresh. Returns the updated manifest.

    Crash safety: the data job commits BEFORE the manifest is written, so a
    crash in between leaves partitions on disk that the manifest considers
    uncommitted. The resume write therefore uses DYNAMIC partition overwrite
    (replace exactly the partitions present in ``todo``), never append — a
    re-run REPLACES any partially/fully written-but-unmanifested partition
    instead of duplicating its rows. On Iceberg this is the snapshot
    overwrite of the same partitions.
    """
    manifest = {"partitions": {}} if mode == "overwrite" else load_manifest(path)
    done = [v for v in manifest["partitions"]]
    todo = df
    if done:
        todo = df.filter(~F.col(partition_col).cast("string").isin(done))
    todo = todo.persist()
    stats = {
        str(r[partition_col]): {"rows": r["rows"], "checksum": int(r["checksum"])}
        for r in todo.groupBy(partition_col).agg(*_checksum_cols(df, partition_col)).collect()
    }
    if stats:
        # resume: replace only the partitions being (re)written;
        # overwrite: static mode wipes the whole dataset first. A writer
        # option, so the session conf is never touched.
        (
            todo.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic" if mode == "resume" else "static")
            .partitionBy(partition_col)
            .parquet(path)
        )
    todo.unpersist()
    now = time.time()
    for k, v in stats.items():
        manifest["partitions"][k] = {
            "rows": v["rows"],
            "checksum": v["checksum"],
            "status": "committed",
            "committed_at": now,
        }
    manifest["partition_col"] = partition_col
    with open(_manifest_path(path), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify(spark: SparkSession, path: str) -> dict:
    """Recompute per-partition checksums from storage vs the manifest.

    Returns {partition: 'ok' | 'mismatch' | 'missing'}.
    """
    manifest = load_manifest(path)
    pcol = manifest.get("partition_col")
    stored = spark.read.parquet(path)
    actual = {
        str(r[pcol]): (r["rows"], int(r["checksum"]))
        for r in stored.groupBy(pcol).agg(*_checksum_cols(stored, pcol)).collect()
    }
    out = {}
    for k, v in manifest["partitions"].items():
        if k not in actual:
            out[k] = "missing"
        elif actual[k] == (v["rows"], v["checksum"]):
            out[k] = "ok"
        else:
            out[k] = "mismatch"
    return out
