"""Quadtree binning (geo/quadtree.py) + JL projection invariants."""

from pyspark.sql import functions as F

from osm_spark.geo.quadtree import adaptive_bins
from osm_spark.similarity.jl import project, sign_matrix


def test_leaves_conserve_points_and_respect_cap(spark, sf_dir):
    from osm_spark.geo import tiles
    from osm_spark.pipeline import pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        tiles.tile_x(pages.geo_lon("doc_id"), 6).alias("x"),
        tiles.tile_y(pages.geo_lat("doc_id"), 6).alias("y"),
    )
    total = pts.count()
    leaves = adaptive_bins(pts, z_min=3, z_max=6, cap=10).collect()
    assert sum(r["n"] for r in leaves) == total
    # over-cap leaves exist only at the recursion floor
    for r in leaves:
        assert r["n"] > 0
        assert r["n"] <= 10 or r["z"] == 6
    # hot city must have driven at least one max-depth leaf
    assert any(r["z"] == 6 for r in leaves)
    # leaves never overlap: no leaf is an ancestor of another
    cells = {(r["z"], r["x"], r["y"]) for r in leaves}
    for z, x, y in cells:
        for za in range(3, z):
            assert (za, x >> (z - za), y >> (z - za)) not in cells


def test_hot_cell_splits_to_floor_sparse_stays_coarse(spark):
    rows = [(40, 40)] * 50 + [(400, 200)]  # one dense z6 cell + one loner
    pts = spark.createDataFrame(rows, ["x", "y"])
    leaves = {
        (r["z"], r["x"], r["y"]): r["n"]
        for r in adaptive_bins(pts, 3, 6, cap=10).collect()
    }
    assert leaves[(6, 40, 40)] == 50      # dense: pushed to the floor
    assert leaves[(3, 50, 25)] == 1       # sparse: stays at z3


def test_jl_matrix_deterministic_and_projection_linear(spark):
    assert sign_matrix(8, 4) == sign_matrix(8, 4)
    assert all(v in (1, -1) for row in sign_matrix(8, 4) for v in row)

    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0, 0.0, -1.0]), (2, [2.0, 4.0, 0.0, -2.0])],
        "vec_id: long, embedding: array<float>",
    )
    out = project(vecs, in_dims=4, out_dims=3)
    got = {
        (r["vec_id"], r["out_dim"]): r["y_e6"] for r in out.collect()
    }
    mat = sign_matrix(4, 3)
    import math

    for j in range(3):
        expect = sum(v * mat[i][j] for i, v in enumerate([1.0, 2.0, 0.0, -1.0]))
        assert got[(1, j)] == math.floor(expect * 1e6)
        # doubling the vector doubles the projection (exact here)
        assert got[(2, j)] == math.floor(2 * expect * 1e6)
