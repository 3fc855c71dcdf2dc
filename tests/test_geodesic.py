"""Spherical ring area (geo/distance.py ring_area_term_km2): fixtures.

Sign convention: the Chamberlain–Duquette edge-term variant used here
(and by orb/turf's geo area) yields POSITIVE totals for CLOCKWISE
rings in (lat, lon) order.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from osm_spark.geo import distance as d


def _ring_area(spark, ring):
    """Sum of quantized edge terms over a closed ring [(lat, lon)...]."""
    edges = [
        (la1, lo1, ring[(i + 1) % len(ring)][0], ring[(i + 1) % len(ring)][1])
        for i, (la1, lo1) in enumerate(ring)
    ]
    df = spark.createDataFrame(
        edges, "lat double, lon double, nlat double, nlon double"
    )
    t = d.ring_area_term_km2("lat", "lon", "nlat", "nlon")
    return df.agg(F.sum(t)).collect()[0][0]


def test_equator_square_area_matches_side_squared(spark):
    # 1-degree square at the equator: ~111.19 km on a side -> ~12365 km^2
    s = 1.0
    ccw = [(0.0, 0.0), (0.0, s), (s, s), (s, 0.0)]  # CCW in (lon,lat) plane
    got = _ring_area(spark, list(reversed(ccw)))  # clockwise -> positive
    side_km = math.radians(s) * d.EARTH_RADIUS / 1000.0
    assert 0 < got < 5.1e8  # sane: below Earth's surface area
    assert abs(got - side_km * side_km) / (side_km * side_km) < 0.01


def test_orientation_flip_negates_area(spark):
    ring = [(10.0, 20.0), (10.0, 22.0), (12.0, 22.0), (12.0, 20.0)]
    a = _ring_area(spark, ring)
    b = _ring_area(spark, list(reversed(ring)))
    # quantization floors each term, so reversal matches within 1 km^2
    # per edge rather than exactly
    assert abs(a + b) <= len(ring)
    assert (a > 0) != (b > 0)
