"""Lineage manifest + exact resume semantics (north_rule)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from libpysal_spark.operators.distance import distance_band
from libpysal_spark.pages import document_points
from libpysal_spark.plans.lineage import verify, write_with_lineage

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def edges(spark):
    g = distance_band(document_points(spark, SF), 30.0)
    return g.edges.withColumn(
        "bucket", F.pmod(F.col("focal"), F.lit(8)).cast("int")
    ).persist()


def test_write_verify_resume(spark, edges, tmp_path):
    path = str(tmp_path / "edges")
    total = edges.count()

    # simulate a partial (failed) run: only buckets 0-3 got written
    partial = edges.filter(F.col("bucket") < 4)
    m1 = write_with_lineage(partial, path, "bucket")
    assert len(m1["partitions"]) == 4
    assert all(v["status"] == "committed" for v in m1["partitions"].values())

    # resume with the FULL dataset: only the missing buckets are appended
    m2 = write_with_lineage(edges, path, "bucket")
    assert len(m2["partitions"]) == 8
    stored = spark.read.parquet(path)
    assert stored.count() == total

    # committed partitions were not rewritten: checksums unchanged from m1
    for k, v in m1["partitions"].items():
        assert m2["partitions"][k]["checksum"] == v["checksum"]
        assert m2["partitions"][k]["committed_at"] == v["committed_at"]

    # storage matches manifest exactly
    assert set(verify(spark, path).values()) == {"ok"}


def test_resume_after_crash_between_data_and_manifest(spark, edges, tmp_path):
    """ADVICE r1: parquet commits before the manifest write; a crash in the
    gap must NOT duplicate rows on resume (dynamic partition overwrite
    replaces the orphaned partitions instead of appending)."""
    path = str(tmp_path / "edges_crash")
    total = edges.count()

    m1 = write_with_lineage(edges.filter(F.col("bucket") < 4), path, "bucket")
    assert len(m1["partitions"]) == 4

    # simulate the crash: buckets 4-5 land on disk but the manifest write
    # never happened (roll the manifest back to m1's state)
    mp = os.path.join(path, "_lineage.json")
    write_with_lineage(edges.filter(F.col("bucket") < 6), path, "bucket")
    json.dump(m1, open(mp, "w"))

    # resume with the full dataset: buckets 4-7 are recomputed; 4-5 must be
    # REPLACED, not appended
    m3 = write_with_lineage(edges, path, "bucket")
    assert len(m3["partitions"]) == 8
    stored = spark.read.parquet(path)
    assert stored.count() == total
    assert set(verify(spark, path).values()) == {"ok"}


def test_verify_detects_corruption(spark, edges, tmp_path):
    path = str(tmp_path / "edges2")
    write_with_lineage(edges, path, "bucket")
    # corrupt the manifest's checksum for one partition
    mp = os.path.join(path, "_lineage.json")
    m = json.load(open(mp))
    k = sorted(m["partitions"])[0]
    m["partitions"][k]["checksum"] += 1
    json.dump(m, open(mp, "w"))
    res = verify(spark, path)
    assert res[k] == "mismatch"
    assert sum(1 for v in res.values() if v == "ok") == len(res) - 1


def test_resume_noop_when_complete(spark, edges, tmp_path):
    path = str(tmp_path / "edges3")
    write_with_lineage(edges, path, "bucket")
    before = json.load(open(os.path.join(path, "_lineage.json")))
    write_with_lineage(edges, path, "bucket")  # all committed -> no-op
    after = json.load(open(os.path.join(path, "_lineage.json")))
    assert before == after


def test_checksum_partition_invariant(spark, edges, tmp_path):
    p1 = str(tmp_path / "a")
    p2 = str(tmp_path / "b")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    m1 = write_with_lineage(edges.repartition(3), p1, "bucket")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    m2 = write_with_lineage(edges.repartition(17), p2, "bucket")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    a = {k: v["checksum"] for k, v in m1["partitions"].items()}
    b = {k: v["checksum"] for k, v in m2["partitions"].items()}
    assert a == b


def test_build_weights_job_resumes(spark, tmp_path):
    """jobs/build_weights.py: the spark-submit entry point writes a
    lineage-manifested edge table and a second identical run writes ZERO new
    partitions (exact resume)."""
    import json
    import os
    import subprocess
    import sys

    from libpysal_spark.pages import document_points

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pts_path = str(tmp_path / "pts.parquet")
    out_path = str(tmp_path / "edges")
    document_points(spark, "/root/testdata/sf0.001").write.parquet(pts_path)

    def run():
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "build_weights.py"),
             "--points", pts_path, "--out", out_path,
             "--op", "band", "--threshold", "20.0", "--buckets", "8"],
            capture_output=True, text=True, env=env, check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    first = run()
    assert first["partitions_written"] == first["partitions_total"] > 0
    second = run()
    assert second["partitions_written"] == 0
    assert second["rows"] == first["rows"]
