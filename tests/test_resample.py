"""Even-spacing resample (geo/resample.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from osm_spark.geo import resample as R

N = 8


def _mirror(pts: list[tuple[int, int]], n: int):
    """Operation-identical Python-float mirror of the resample."""
    segs = []
    cum = 0.0
    for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
        ln = math.sqrt(float((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)))
        segs.append((x1, y1, x2, y2, ln, cum))
        cum += ln
    total = cum
    out = {}
    for j in range(n - 1):
        d = float(j) * total / float(n - 1)
        for x1, y1, x2, y2, ln, cs in segs:
            if d >= cs and d < cs + ln:
                out[j] = (
                    math.floor(float(x1) + (d - cs) / ln * float(x2 - x1)),
                    math.floor(float(y1) + (d - cs) / ln * float(y2 - y1)),
                )
                break
    out[n - 1] = pts[-1]
    return out


def _spark(spark, ways: dict[int, list[tuple[int, int]]], n: int):
    rows = [
        (w, i, x, y) for w, pts in ways.items() for i, (x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "way_id long, pos int, x long, y long")
    got: dict[int, dict[int, tuple[int, int]]] = {}
    for r in R.resample(df, n).collect():
        got.setdefault(r.way_id, {})[r.j] = (r.rx, r.ry)
    return got


def test_straight_line_exact(spark):
    # horizontal line 0..700: targets land exactly on multiples of 100
    pts = [(0, 0), (700, 0)]
    got = _spark(spark, {0: pts}, N)
    assert got[0] == {j: (j * 100, 0) for j in range(N)}


def test_endpoints_and_counts(spark):
    import random

    rng = random.Random(8)
    ways = {
        w: [
            (rng.randint(-300_000_000, 300_000_000),
             rng.randint(-100_000_000, 100_000_000))
            for _ in range(rng.randint(2, 30))
        ]
        for w in range(20)
    }
    got = _spark(spark, ways, N)
    for w, pts in ways.items():
        assert len(got[w]) == N
        assert got[w][0] == pts[0]        # d=0 -> exact first vertex
        assert got[w][N - 1] == pts[-1]   # explicit endpoint emission


def test_matches_float_mirror(spark):
    import random

    rng = random.Random(16)
    ways = {
        w: [
            (rng.randint(-300_000_000, 300_000_000),
             rng.randint(-100_000_000, 100_000_000))
            for _ in range(rng.randint(2, 25))
        ]
        for w in range(25)
    }
    got = _spark(spark, ways, N)
    for w, pts in ways.items():
        assert got[w] == _mirror(pts, N), w


def test_zero_length_segments_skipped(spark):
    # duplicate vertices own empty cumulative intervals
    pts = [(0, 0), (0, 0), (700, 0), (700, 0)]
    got = _spark(spark, {0: pts}, N)
    assert got[0] == {j: (j * 100, 0) for j in range(N)}


def test_degenerate_all_zero_length(spark):
    # total length 0: documented semantics — only j = n-1 emitted
    pts = [(5, 5), (5, 5)]
    got = _spark(spark, {0: pts}, N)
    assert got[0] == {N - 1: (5, 5)}
