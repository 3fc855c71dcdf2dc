"""WKB codec fixtures: canonical hex vectors, both byte orders,
roundtrips, and hole semantics through the WKB PIP join."""

import struct

import numpy as np
import pytest

from osm_spark.geo import wkb as W


def test_point_canonical_hex():
    # POINT(1 2), little-endian ISO WKB — the canonical textbook vector
    assert W.encode_point(1.0, 2.0).hex() == (
        "0101000000000000000000f03f0000000000000040"
    )


def test_linestring_canonical_hex():
    # LINESTRING(0 0, 1 1)
    got = W.encode_linestring([0.0, 1.0], [0.0, 1.0]).hex()
    assert got == (
        "010200000002000000"
        "00000000000000000000000000000000"
        "000000000000f03f000000000000f03f"
    )


def test_polygon_roundtrip():
    xs = [0.0, 4.0, 4.0, 0.0, 0.0]
    ys = [0.0, 0.0, 4.0, 4.0, 0.0]
    hx = [1.0, 3.0, 3.0, 1.0, 1.0]
    hy = [1.0, 1.0, 3.0, 3.0, 1.0]
    buf = W.encode_polygon([(xs, ys), (hx, hy)])
    assert len(buf) == 9 + 2 * (4 + 16 * 5)
    gt, rings = W.decode(buf)
    assert gt == W.POLYGON and len(rings) == 2
    assert rings[0][0].tolist() == xs and rings[1][1].tolist() == hy


def test_multipolygon_roundtrip():
    p1 = [([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])]
    p2 = [([5.0, 6.0, 6.0, 5.0], [5.0, 5.0, 6.0, 6.0])]
    buf = W.encode_multipolygon([p1, p2])
    assert W.geom_type(buf) == W.MULTIPOLYGON
    gt, rings = W.decode(buf)
    assert gt == W.MULTIPOLYGON and len(rings) == 2
    assert rings[1][0].tolist() == [5.0, 6.0, 6.0, 5.0]


def test_big_endian_decode():
    # hand-build BE POINT(1 2): 00 00000001 then BE doubles
    buf = b"\x00" + struct.pack(">I", W.POINT) + struct.pack(">dd", 1.0, 2.0)
    gt, rings = W.decode(buf)
    assert gt == W.POINT
    assert rings[0][0][0] == 1.0 and rings[0][1][0] == 2.0


def test_roundtrip_random():
    rng = np.random.default_rng(11)
    for _ in range(25):
        n = int(rng.integers(3, 40))
        xs = rng.uniform(-180, 180, n)
        ys = rng.uniform(-90, 90, n)
        gt, rings = W.decode(W.encode_polygon([(xs, ys)]))
        assert gt == W.POLYGON
        np.testing.assert_array_equal(rings[0][0], xs)  # bit-exact
        np.testing.assert_array_equal(rings[0][1], ys)


def test_pip_wkb_hole_even_odd(spark):
    """A polygon with a hole, shipped as WKB: points in the hole are NOT
    matched (even-odd parity), points in the shell are."""
    from osm_spark.geo.pip import pip_join_polygon_covering

    shell = ([0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0])
    hole = ([3.0, 7.0, 7.0, 3.0, 3.0], [3.0, 3.0, 7.0, 7.0, 3.0])
    polys = spark.createDataFrame(
        [(7, 0.0, 10.0, 0.0, 10.0, bytearray(W.encode_polygon([shell, hole])))],
        "poly_id long, xmin double, xmax double, ymin double,"
        " ymax double, wkb binary",
    )
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 5.0, 5.0), (3, 8.5, 8.5), (4, 20.0, 20.0)],
        "doc_id long, lon double, lat double",
    )
    got = {r["doc_id"] for r in pip_join_polygon_covering(pts, polys, 3, 8).collect()}
    assert got == {1, 3}
