"""Multimodal plumbing (stubbed codecs) + salted-join equivalence."""

import pytest
from pyspark.sql import functions as F

from libpysal_spark.operators.contiguity import block_weights
from libpysal_spark.pages import pages
from libpysal_spark.plans.skew import salted_self_join
from libpysal_spark.text.multimodal import decode_image, media_metadata, sample_frames

SF = "/root/testdata/sf0.001"


def test_media_metadata(spark):
    p = pages(spark, SF)
    m = media_metadata(p, "html")
    row = m.select("media_bytes", "media_kind", "media_hash").first()
    assert row.media_kind == "html"  # '<htm' magic
    assert row.media_bytes > 20
    assert len(row.media_hash) == 32
    # hash matches md5 of the payload
    import hashlib

    raw = p.select("html").first().html
    assert m.first().media_hash == hashlib.md5(bytes(raw)).hexdigest()


def test_decode_image_stub_raises(spark):
    p = pages(spark, SF).limit(4)
    with pytest.raises(Exception) as exc:
        decode_image(p, "html", fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or "codec" in str(exc.value)


def test_decode_image_fake_deterministic(spark):
    p = pages(spark, SF).limit(50)
    a = decode_image(p, "html", fake=True).orderBy("url").toPandas()
    b = decode_image(p.repartition(7), "html", fake=True).orderBy("url").toPandas()
    assert len(a) == 50
    assert a["feature"].map(len).eq(8).all()
    assert (a["width"] >= 1).all() and (a["height"] >= 1).all()
    # partition-invariant (deterministic fake)
    assert a.drop(columns=["feature"]).equals(b.drop(columns=["feature"]))
    assert all(list(x) == list(y) for x, y in zip(a["feature"], b["feature"]))


def test_sample_frames_fake(spark):
    p = pages(spark, SF).limit(10)
    frames = sample_frames(p, "html", every_n=2, fake=True).toPandas()
    assert (frames["frame_idx"] % 2 == 0).all()
    assert frames.groupby("url").size().ge(1).all()


def test_salted_join_equivalence(spark):
    # customers share nations (suppliers at this scale do not), so the
    # blocks hold real pairs
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").alias("regime")
    )
    plain = (
        block_weights(cust).edges
        .filter(F.col("focal") != F.col("neighbor"))
        .select("focal", "neighbor")
        .orderBy("focal", "neighbor")
        .toPandas()
    )
    salted = (
        salted_self_join(cust, "regime", salt=4)
        .orderBy("focal", "neighbor")
        .toPandas()
    )
    assert len(plain) > 0
    assert plain.equals(salted)
