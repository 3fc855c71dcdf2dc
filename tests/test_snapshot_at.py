"""Pages recency snapshot: capture fan-out, visibility cut, argmax pick."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.pipeline import pages as pg


def _caps(spark, rows):
    # (url, epoch_s, rev, text)
    df = spark.createDataFrame(
        rows, "url string, epoch_s long, rev int, text string"
    )
    return df.select(
        "url",
        F.timestamp_seconds("epoch_s").alias("warc_ts"),
        "text",
        "rev",
    )


def test_snapshot_picks_latest_visible(spark):
    caps = _caps(spark, [
        ("u1", 100, 0, "a"),
        ("u1", 200, 1, "a rev1"),
        ("u1", 300, 2, "a rev2"),
        ("u2", 100, 0, "b"),
    ])
    out = {r.url: r for r in pg.snapshot_at(
        caps, F.timestamp_seconds(F.lit(250))).collect()}
    assert out["u1"].rev == 1 and out["u1"].n_upto == 2
    assert out["u1"].ts_us == 200 * 1_000_000
    assert out["u2"].rev == 0 and out["u2"].n_upto == 1


def test_url_with_no_visible_capture_is_absent(spark):
    caps = _caps(spark, [("u1", 500, 0, "late")])
    out = pg.snapshot_at(caps, F.timestamp_seconds(F.lit(400))).collect()
    assert out == []


def test_captures_fixture_closed_form(spark):
    caps = pg.captures(spark, "/root/testdata/sf0.001")
    n = caps.groupBy("url").count().collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    expect = {r.doc_id % 3 + 1 for r in docs.select("doc_id").collect()}
    assert {r["count"] for r in n} <= expect | {1, 2, 3}
    # rev 0 keeps the original body byte-identical
    joined = (
        caps.where(F.col("rev") == 0)
        .withColumn("doc_id", F.split("url", "/p").getItem(1).cast("long"))
        .join(docs.select("doc_id", F.col("text").alias("orig")), "doc_id")
    )
    assert joined.where(F.col("text") != F.col("orig")).count() == 0
