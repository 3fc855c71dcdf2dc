"""Liang-Barsky bbox clipping (geo/clip.py).

Mirror: an exact-rational (fractions.Fraction) Liang-Barsky — the
engine must agree on status AND on the floor-quantized clipped
vertices for arbitrary int64 segments.
"""

from __future__ import annotations

import math
from fractions import Fraction

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_spark.geo import clip as C

BBOX = (-50, 70, -30, 40)  # small grid for hand-checkable cases


def _mirror(x1, y1, x2, y2, bx0, bx1, by0, by1):
    """Exact-rational Liang-Barsky, returning (status, cxa, cya, cxb,
    cyb) with vertices floored to the integer grid."""
    inside = lambda x, y: bx0 <= x <= bx1 and by0 <= y <= by1
    dx, dy = x2 - x1, y2 - y1
    t0, t1 = Fraction(0), Fraction(1)
    for p, q in (
        (-dx, x1 - bx0),
        (dx, bx1 - x1),
        (-dy, y1 - by0),
        (dy, by1 - y1),
    ):
        if p == 0:
            if q < 0:
                return ("outside", None, None, None, None)
        else:
            r = Fraction(q, p)
            if p < 0:
                t0 = max(t0, r)
            else:
                t1 = min(t1, r)
    if t0 > t1:
        return ("outside", None, None, None, None)
    status = "inside" if inside(x1, y1) and inside(x2, y2) else "clipped"
    cxa = x1 + math.floor(t0 * dx)
    cya = y1 + math.floor(t0 * dy)
    cxb = x1 + math.floor(t1 * dx)
    cyb = y1 + math.floor(t1 * dy)
    return (status, cxa, cya, cxb, cyb)


def _duck(segs, bbox):
    rows = ", ".join(f"({i}, 0, {a}, {b}, {c}, {d})" for i, (a, b, c, d) in enumerate(segs))
    sql = f"""
    WITH raw (way_id, pos, x1, y1, x2, y2) AS (VALUES {rows}),
    s2 AS (SELECT way_id, pos,
                  CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
                  CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2
           FROM raw),
    {C.clip_sql("s2", ["way_id", "pos"], *bbox)}
    """
    out = duckdb.sql(sql).fetchall()
    return {r[0]: tuple(r[2:]) for r in out}


def _spark_clip(spark, segs, bbox):
    df = spark.createDataFrame(
        [(i, 0, *s) for i, s in enumerate(segs)],
        "way_id long, pos int, x1 long, y1 long, x2 long, y2 long",
    )
    out = C.clip_to_bbox(df, *bbox).collect()
    return {r.way_id: (r.status, r.cxa, r.cya, r.cxb, r.cyb) for r in out}


FIXTURES = [
    (0, 0, 10, 10),          # fully inside
    (-100, 0, 100, 0),       # horizontal crossing both x-walls
    (0, -100, 0, 100),       # vertical crossing both y-walls
    (-100, -100, 100, 100),  # diagonal through the box
    (-100, -100, -60, -60),  # fully outside, pointing at the corner
    (80, 50, 200, 90),       # fully outside NE
    (5, 5, 5, 5),            # degenerate point inside
    (500, 500, 500, 500),    # degenerate point outside
    (-50, -30, 70, 40),      # exactly corner-to-corner
    (-50, 45, 70, 45),       # horizontal just above the box
    (-51, -31, -50, -30),    # touches SW corner at t=1
    (70, 40, 71, 41),        # leaves NE corner at t=0
    (-1000000, 7, 1000000, 8),  # long shallow crossing
]


def test_fixtures_match_mirror_and_duck(spark):
    want = {i: _mirror(*s, *BBOX) for i, s in enumerate(FIXTURES)}
    got_s = _spark_clip(spark, FIXTURES, BBOX)
    got_d = _duck(FIXTURES, BBOX)
    for i, s in enumerate(FIXTURES):
        w = want[i]
        exp = (w[0], *(0 if v is None else v for v in w[1:]))
        # engine emits 0-sentinels for outside; mirror emits None
        got_sent = (
            got_s[i][0],
            *(0 if v is None else v for v in got_s[i][1:]),
        )
        assert got_sent == exp, f"spark fixture {i} {s}: {got_s[i]} != {w}"
        assert got_d[i] == got_s[i] or (
            got_d[i][0] == "outside" and got_s[i][0] == "outside"
        ), f"duck fixture {i}"


def test_clipped_vertices_stay_in_bbox(spark):
    import random

    rng = random.Random(4242)
    segs = [
        tuple(rng.randint(-300, 300) for _ in range(4)) for _ in range(300)
    ]
    got = _spark_clip(spark, segs, BBOX)
    bx0, bx1, by0, by1 = BBOX
    for i, s in enumerate(segs):
        status, cxa, cya, cxb, cyb = got[i]
        if status == "outside":
            continue
        assert bx0 <= cxa <= bx1 and by0 <= cya <= by1, (s, got[i])
        assert bx0 <= cxb <= bx1 and by0 <= cyb <= by1, (s, got[i])
        if status == "inside":
            assert (cxa, cya, cxb, cyb) == s


@settings(max_examples=120, deadline=None)
@given(
    x1=st.integers(-400_000_000, 400_000_000),
    y1=st.integers(-200_000_000, 200_000_000),
    x2=st.integers(-400_000_000, 400_000_000),
    y2=st.integers(-200_000_000, 200_000_000),
)
def test_hypothesis_duck_matches_exact_mirror(x1, y1, x2, y2):
    """DuckDB rendering of the shared dataflow == exact-Fraction mirror
    at full e6 magnitudes (the int64-overflow envelope the module
    docstring claims)."""
    bbox = (-60_000_000, 60_000_000, -30_000_000, 30_000_000)
    w = _mirror(x1, y1, x2, y2, *bbox)
    exp = (w[0], *(None if v is None else v for v in w[1:]))
    got = _duck([(x1, y1, x2, y2)], bbox)[0]
    assert got == exp
