"""Z-order clustering (pipeline/zorder.py): key law + layout payoff."""

import tempfile

from pyspark.sql import functions as F

from osm_spark.geo import tiles
from osm_spark.pipeline import pages
from osm_spark.pipeline.table import SnapshotTable
from osm_spark.pipeline.zorder import cluster_by_zorder, zorder_key


def _pts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        "n_chars",
        tiles.tile_x(pages.geo_lon("doc_id"), 10).alias("tile_x"),
        tiles.tile_y(pages.geo_lat("doc_id"), 10).alias("tile_y"),
    )


def test_zorder_key_is_bit_interleave(spark):
    rows = (
        spark.range(0, 2000, 37)
        .select(
            (F.col("id") % 1024).alias("x"),
            ((F.col("id") * 7) % 1024).alias("y"),
        )
        .withColumn("z", zorder_key(F.col("x"), F.col("y")))
        .collect()
    )
    assert rows
    for r in rows:
        expect = 0
        for k in range(10):
            expect |= ((r["x"] >> k) & 1) << (2 * k)
            expect |= ((r["y"] >> k) & 1) << (2 * k + 1)
        assert r["z"] == expect


def test_zorder_prunes_where_id_layout_cannot(spark, sf_dir):
    """The whole point of the operator: the SAME bbox predicates over
    the SAME rows prune files under Z-order layout and keep ~every
    file under ingest-order (doc_id) layout."""
    pts = _pts(spark, sf_dir)
    zt = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="zorder_t_"),
        stats_cols=("tile_x", "tile_y"),
    )
    zt.append(cluster_by_zorder(pts, "tile_x", "tile_y", n_files=16))
    it = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="idorder_t_"),
        stats_cols=("tile_x", "tile_y"),
    )
    it.append(pts.repartitionByRange(16, "doc_id"))

    preds = [
        ("tile_x", ">=", 288), ("tile_x", "<=", 319),
        ("tile_y", ">=", 352), ("tile_y", "<=", 415),
    ]
    z_total, z_hit = len(zt.plan_files()), len(zt.plan_files(preds))
    i_total, i_hit = len(it.plan_files()), len(it.plan_files(preds))
    assert z_total >= 8 and i_total >= 8
    # Z-order: a 32x64 box out of 1024^2 tiles touches few Z-curve
    # segments; id-order spreads space uniformly across every file.
    assert z_hit < i_hit
    assert z_hit <= z_total // 2
    # pruning is a superset cut: both layouts return identical rows
    a = sorted(r["doc_id"] for r in zt.scan(preds).collect())
    b = sorted(r["doc_id"] for r in it.scan(preds).collect())
    assert a == b and len(a) > 0


def test_zorder_write_preserves_rows_exactly(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="zorder_rows_"),
        stats_cols=("tile_x", "tile_y"),
    )
    t.append(cluster_by_zorder(pts, "tile_x", "tile_y", n_files=16))
    got = sorted(
        (r["doc_id"], r["tile_x"], r["tile_y"])
        for r in t.scan().collect()
    )
    want = sorted(
        (r["doc_id"], r["tile_x"], r["tile_y"]) for r in pts.collect()
    )
    assert got == want
