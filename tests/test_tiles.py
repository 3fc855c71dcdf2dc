"""Tile math parity tests.

Mirrors the reference's fixture property (bounds_test.go:10-38): the
centroid of tile T must be contained in T's bounds and in none of its 8
neighbors; x/y >= 2^z is out of range (bounds.go:19-25); parent/child and
range algebra round-trips. Run at every zoom 0..18.
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from osm_spark.geo import tiles


def py_tile_at(lat, lon, z):
    n = 1 << z
    xf = (lon + 180.0) / 360.0 * n
    yf = (1.0 - math.log(math.tan(lat * math.pi / 360.0 + math.pi / 4.0)) / math.pi) / 2.0 * n
    x = min(max(math.floor(xf), 0), n - 1)
    y = min(max(math.floor(yf), 0), n - 1)
    return x, y


def test_reference_neighborhood_property(spark):
    """bounds_test.go:10-38 generalized: tile (7,8,9)-style neighborhoods
    at every zoom — centroid of T in bounds(T), in no neighbor."""
    rows = []
    for z in range(1, 19):
        n = 1 << z
        x, y = min(7, n - 1), min(8, n - 1)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx, ny = x + dx, y + dy
                if 0 <= nx < n and 0 <= ny < n:
                    rows.append(Row(z=z, cx=x, cy=y, x=nx, y=ny))
    df = spark.createDataFrame(rows)

    out = []
    for z in range(1, 19):
        part = df.filter(F.col("z") == z)
        # centroid of the center tile
        part = part.select(
            "*",
            ((tiles.tile_bound_west("cx", z) + tiles.tile_bound_east("cx", z)) / 2).alias("clon"),
            ((tiles.tile_bound_south("cy", z) + tiles.tile_bound_north("cy", z)) / 2).alias("clat"),
        ).select(
            "z",
            (F.col("x") == F.col("cx")).alias("is_center_x"),
            (F.col("y") == F.col("cy")).alias("is_center_y"),
            tiles.contains(
                "clat",
                "clon",
                tiles.tile_bound_south("y", z),
                tiles.tile_bound_north("y", z),
                tiles.tile_bound_west("x", z),
                tiles.tile_bound_east("x", z),
            ).alias("contained"),
        )
        out.extend(part.collect())

    for r in out:
        is_center = r.is_center_x and r.is_center_y
        assert r.contained == is_center, r


def test_at_matches_python_reference(spark):
    pts = [(-85.0, -179.9), (0.0, 0.0), (41.0, -87.6), (85.0, 179.9), (-41.0, 87.6)]
    df = spark.createDataFrame([Row(lat=a, lon=b) for a, b in pts])
    for z in (0, 1, 5, 9, 12, 18):
        got = df.select(
            "lat", "lon", tiles.tile_x("lon", z).alias("x"), tiles.tile_y("lat", z).alias("y")
        ).collect()
        for r in got:
            assert (r.x, r.y) == py_tile_at(r.lat, r.lon, z), (z, r)


def test_parent_child_roundtrip(spark):
    df = spark.createDataFrame([Row(x=100, y=200)])
    r = df.select(
        tiles.parent_x("x").alias("px"),
        tiles.parent_y("y").alias("py"),
        tiles.range_min("x", 9, 11).alias("rmin"),
        tiles.range_max("x", 9, 11).alias("rmax"),
        tiles.range_min("x", 9, 7).alias("down"),
    ).first()
    assert (r.px, r.py) == (50, 100)
    assert (r.rmin, r.rmax) == (400, 403)
    assert r.down == 25


def test_quadkey_known_values(spark):
    # Bing fixture: tile (3,5,3) -> quadkey "213"
    df = spark.createDataFrame([Row(x=3, y=5)])
    assert df.select(tiles.quadkey("x", "y", 3).alias("qk")).first().qk == "213"


def test_containment_inclusive_boundary(spark):
    """ContainsNode uses inclusive intervals (bounds.go:38-48)."""
    z = 9
    df = spark.createDataFrame([Row(x=7, y=8)])
    b = df.select(
        tiles.tile_bound_south("y", z).alias("s"),
        tiles.tile_bound_north("y", z).alias("n"),
        tiles.tile_bound_west("x", z).alias("w"),
        tiles.tile_bound_east("x", z).alias("e"),
    ).first()
    pts = spark.createDataFrame(
        [Row(lat=b.s, lon=b.w), Row(lat=b.n, lon=b.e), Row(lat=b.s - 1e-9, lon=b.w)]
    )
    got = pts.select(
        tiles.contains("lat", "lon", F.lit(b.s), F.lit(b.n), F.lit(b.w), F.lit(b.e)).alias("c")
    ).collect()
    assert [r.c for r in got] == [True, True, False]


def _ref_tile(lat, lon, z):
    """tile_x/tile_y at zoom z, in the column expressions' operation
    order (so doubles round the same way)."""
    n = 1 << z
    xf = (lon + 180.0) / 360.0 * float(n)
    yf = (1.0 - math.log(math.tan(lat * (math.pi / 360.0) + math.pi / 4.0))
          / math.pi) / 2.0 * float(n)
    return min(max(math.floor(xf), 0), n - 1), min(max(math.floor(yf), 0), n - 1)


def _ref_pyramid(points, z_max, z_min):
    """Per-level reference: every level tiled from the points directly,
    no parent shift."""
    from collections import Counter

    return Counter(
        (z,) + _ref_tile(lat, lon, z)
        for z in range(z_min, z_max + 1)
        for lat, lon in points
    )


def _by_level(rows):
    got = {}
    for r in rows:
        k = (r["zoom"], r["tile_x"], r["tile_y"])
        assert k not in got, k
        got[k] = r["n_pages"]
    return got


def test_pyramid_matches_per_level_reference(spark, tmp_path):
    """Both pyramid entry points give, at every level, exactly the
    counts of tiling the points at that level: edge tiles x = 0 and
    x = 2^z - 1, latitudes past the +-85.05 clamp, a hot-spot pile-up,
    z_max = 18 and z_min == z_max; out-of-range zooms raise."""
    from osm_spark.pipeline import pages

    points = (
        [(0.0, -180.0), (10.0, -179.9999), (-10.0, 179.9999), (0.0, 179.99999)]
        + [(89.9, 12.0), (85.06, -3.0), (-85.06, 3.0), (-89.9, -12.0)]
        + [(pages.HOT_LAT, pages.HOT_LON)] * 40
        + [(-33.86, 151.21), (51.5, -0.12), (51.5001, -0.1201), (1e-9, 1e-9)]
    )
    df = spark.createDataFrame(points, "lat double, lon double")
    for z_max, z_min in ((18, 0), (12, 0), (10, 4), (7, 7), (0, 0)):
        pts = df.select(
            tiles.tile_x("lon", z_max).alias("x"), tiles.tile_y("lat", z_max).alias("y")
        )
        got = tiles.pyramid_counts(pts, z_max, z_min).select(
            tiles.key_zoom("key").alias("zoom"),
            tiles.key_x("key").alias("tile_x"),
            tiles.key_y("key").alias("tile_y"),
            F.col("n").alias("n_pages"),
        )
        want = _ref_pyramid(points, z_max, z_min)
        assert _by_level(got.collect()) == want, (z_max, z_min)
        assert {z for z, _, _ in want} == set(range(z_min, z_max + 1))
    # the clamp and both x edges really are exercised
    assert {_ref_tile(lat, 0.0, 18)[1] for lat in (89.9, -89.9)} == {0, (1 << 18) - 1}
    assert {_ref_tile(0.0, lon, 18)[0] for lon in (-180.0, 179.9999)} == {0, (1 << 18) - 1}

    # the pipeline entry on a documents table: x-edge doc_ids (lon
    # -179.999 and 179.999) and every 20th doc on the hot city
    ids = [0, 20, 40, 60, 155_369, 204_631, 1, 2, 3, 77, 99_999, 123_457]
    sf_dir = str(tmp_path)
    spark.createDataFrame([(i,) for i in ids], "doc_id long").write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    geo = [
        (
            pages.HOT_LAT if i % 20 == 0 else (i * 7919 % 170000) / 1000.0 - 85.0,
            pages.HOT_LON if i % 20 == 0 else (i * 104729 % 360000) / 1000.0 - 180.0,
        )
        for i in ids
    ]
    assert {_ref_tile(*geo[4], 18)[0], _ref_tile(*geo[5], 18)[0]} == {0, (1 << 18) - 1}
    for z_max, z_min in ((18, 0), (12, 0), (7, 7)):
        pyr = pages.tile_pyramid_counts(spark, sf_dir, z_max=z_max, z_min=z_min)
        assert pyr.schema.simpleString() == (
            "struct<tile_x:bigint,tile_y:bigint,n_pages:bigint,zoom:int>"
        )
        assert [f.nullable for f in pyr.schema] == [False, False, z_min < z_max, False]
        assert _by_level(pyr.collect()) == _ref_pyramid(geo, z_max, z_min)

    for z_max, z_min in ((3, 5), (4, -1), (29, 0), (-1, -1)):
        with pytest.raises(ValueError):
            pages.tile_pyramid_counts(spark, sf_dir, z_max=z_max, z_min=z_min)
        with pytest.raises(ValueError):
            tiles.pyramid_counts(df, z_max, z_min)
