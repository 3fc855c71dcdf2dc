"""Map matching (geo/snap.py): brute-force parity + completeness edges.

The load-bearing property is the first test: the cell-pruned join must
equal an index-free brute force for ANY input with radius <= cell size
— including segments that merely PASS NEAR a point while both their
endpoints are far away (the case a bbox-of-endpoints index would miss
and the supercover catches).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from osm_spark.geo import snap as sp

SHIFT = 19
CELL = 1 << SHIFT
MAX_D2 = float(400_000**2)


def _brute(points, segs, max_d2=MAX_D2):
    out = {}
    for pid, px, py in points:
        best = None
        for sid, ax, ay, bx, by in segs:
            pxd, pyd = float(px), float(py)
            axd, ayd, bxd, byd = float(ax), float(ay), float(bx), float(by)
            dx, dy = bxd - axd, byd - ayd
            len2 = dx * dx + dy * dy
            if len2 == 0.0:
                sx, sy = axd, ayd
            else:
                t = ((pxd - axd) * dx + (pyd - ayd) * dy) / len2
                t = min(max(t, 0.0), 1.0)
                sx, sy = axd + t * dx, ayd + t * dy
            d2 = (pxd - sx) * (pxd - sx) + (pyd - sy) * (pyd - sy)
            if d2 <= max_d2 and (best is None or (d2, sid) < best[:2]):
                best = (d2, sid, sx, sy)
        if best is None:
            out[pid] = (-1, 0, -1, px, py)
        else:
            import math

            d2, sid, sx, sy = best
            out[pid] = (sid, 1, math.floor(d2), math.floor(sx), math.floor(sy))
    return out


def _run(spark, points, segs):
    pdf = spark.createDataFrame(points, "pid long, px long, py long")
    sdf = spark.createDataFrame(
        segs, "seg_id long, ax long, ay long, bx long, by long"
    )
    got = sp.snap_points(pdf, sdf, shift=SHIFT, max_d2=MAX_D2, point_id="pid")
    return {
        r.pid: (r.seg_id, r.matched, r.d2_q, r.snap_x, r.snap_y)
        for r in got.collect()
    }


def test_pruned_join_equals_brute_force_random(spark):
    rng = random.Random(42)
    points = [
        (i, rng.randrange(-5_000_000, 5_000_000),
         rng.randrange(-5_000_000, 5_000_000))
        for i in range(60)
    ]
    segs = []
    for j in range(40):
        ax = rng.randrange(-5_000_000, 5_000_000)
        ay = rng.randrange(-5_000_000, 5_000_000)
        segs.append((j, ax, ay, ax + rng.randrange(-400_000, 400_000),
                     ay + rng.randrange(-400_000, 400_000)))
    assert _run(spark, points, segs) == _brute(points, segs)


def test_passing_segment_found_when_endpoints_are_far(spark):
    # a long segment crossing right next to the point: both endpoints
    # are many cells away, only the supercover index can find it.
    points = [(1, 0, 1000)]
    segs = [(7, -3 * CELL, 0, 3 * CELL, 0)]  # horizontal through origin
    got = _run(spark, points, segs)
    assert got[1] == (7, 1, 1000 * 1000, 0, 0)


def test_unmatched_beyond_radius_keeps_own_coords(spark):
    points = [(1, 0, 0)]
    segs = [(3, 900_000, 0, 1_000_000, 0)]  # 0.9 deg away > 0.4 radius
    got = _run(spark, points, segs)
    assert got[1] == (-1, 0, -1, 0, 0)


def test_zero_length_segment_snaps_to_endpoint(spark):
    points = [(1, 100, 200)]
    segs = [(5, 0, 0, 0, 0)]
    got = _run(spark, points, segs)
    assert got[1] == (5, 1, 100 * 100 + 200 * 200, 0, 0)


def test_tie_breaks_by_segment_id(spark):
    points = [(1, 0, 0)]
    segs = [(9, 0, 1000, 500, 1000), (4, 0, -1000, 500, -1000)]
    got = _run(spark, points, segs)
    assert got[1][0] == 4  # equal distance, lower id wins


def test_interior_projection_clamps_to_endpoint(spark):
    # point beyond the b end: snap clamps to b, not the infinite line.
    points = [(1, 2000, 0)]
    segs = [(2, 0, 0, 1000, 0)]
    got = _run(spark, points, segs)
    assert got[1] == (2, 1, 1000 * 1000, 1000, 0)
