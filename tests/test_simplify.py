"""Douglas-Peucker simplification (geo/simplify.py).

Mirror: the textbook recursive DP with exact integer arithmetic
(argmax |cross| with low-index ties, cross² > eps²·len² threshold via
Python bigints) — structurally unrelated to both the Spark frontier
recursion and the DuckDB recursive CTE.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_spark.geo import simplify as S


def _mirror(pts: list[tuple[int, int]], eps: int) -> set[int]:
    """Kept-index set of textbook recursive DP (exact bigint math)."""
    kept = {0, len(pts) - 1}

    def rec(i0: int, i1: int) -> None:
        if i1 - i0 < 2:
            return
        ax, ay = pts[i0]
        bx, by = pts[i1]
        best, bj = -1, -1
        for j in range(i0 + 1, i1):
            c = abs((bx - ax) * (pts[j][1] - ay) - (by - ay) * (pts[j][0] - ax))
            if c > best:
                best, bj = c, j
        len2 = (bx - ax) ** 2 + (by - ay) ** 2
        if best * best > eps * eps * len2:
            kept.add(bj)
            rec(i0, bj)
            rec(bj, i1)

    rec(0, len(pts) - 1)
    return kept


def _spark_dp(spark, ways: dict[int, list[tuple[int, int]]], eps: int):
    rows = [
        (wid, [{"x": x, "y": y} for x, y in pts])
        for wid, pts in ways.items()
    ]
    df = spark.createDataFrame(
        rows, "way_id long, pts array<struct<x:long,y:long>>"
    )
    out = S.simplify_dp(df, eps).collect()
    got: dict[int, set[int]] = {}
    for r in out:
        got.setdefault(r.way_id, set()).add(r.pos)
    return got


def _duck_dp(ways: dict[int, list[tuple[int, int]]], eps: int):
    rows = ", ".join(
        f"({w}, {i}, CAST({x} AS BIGINT), CAST({y} AS BIGINT))"
        for w, pts in ways.items()
        for i, (x, y) in enumerate(pts)
    )
    sql = f"""
    WITH RECURSIVE p (way_id, idx, x, y) AS (VALUES {rows}),
    {S.simplify_sql("p", eps)}
    """
    got: dict[int, set[int]] = {}
    for w, pos, _, _ in duckdb.sql(sql).fetchall():
        got.setdefault(w, set()).add(pos)
    return got


def test_edge_cases(spark):
    ways = {
        0: [(0, 0), (100, 0)],                      # 2 points: both kept
        1: [(0, 0), (50, 0), (100, 0)],             # collinear: interior dropped
        2: [(0, 0), (50, 60), (100, 0)],            # peak above eps: kept
        3: [(0, 0), (50, 5), (100, 0)],             # peak below eps: dropped
        4: [(0, 0), (0, 0), (0, 0)],                # degenerate duplicates
        5: [(0, 0), (30, 40), (60, 0), (90, 40), (120, 0)],  # zigzag
    }
    eps = 10
    got = _spark_dp(spark, ways, eps)
    for wid, pts in ways.items():
        assert got[wid] == _mirror(pts, eps), wid
    assert got[1] == {0, 2}
    assert got[2] == {0, 1, 2}
    assert got[3] == {0, 2}


def test_matches_mirror_random(spark):
    import random

    rng = random.Random(60_000_000)
    ways = {
        w: [
            (rng.randint(-340_000_000, 340_000_000),
             rng.randint(-140_000_000, 140_000_000))
            for _ in range(rng.randint(2, 40))
        ]
        for w in range(30)
    }
    eps = 60_000_000
    got = _spark_dp(spark, ways, eps)
    for wid, pts in ways.items():
        assert got[wid] == _mirror(pts, eps), wid


@settings(max_examples=25, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(-340_000_000, 340_000_000),
            st.integers(-140_000_000, 140_000_000),
        ),
        min_size=2,
        max_size=24,
    ),
    eps=st.sampled_from([1, 1000, 1_000_000, 60_000_000]),
)
def test_hypothesis_duck_matches_mirror(pts, eps):
    """DuckDB recursive-CTE twin == textbook mirror, at full e6
    magnitudes and across threshold scales (exercises the HUGEINT
    threshold and the NOT EXISTS argmax tie-break)."""
    got = _duck_dp({0: pts}, eps)
    assert got[0] == _mirror(pts, eps)


def _spark_dp_kernel(spark, ways: dict[int, list[tuple[int, int]]], eps: int):
    rows = [
        (w, i, x, y) for w, pts in ways.items() for i, (x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "way_id long, pos int, x long, y long")
    out = S.simplify_dp_kernel(df, eps).collect()
    got: dict[int, set[int]] = {}
    for r in out:
        got.setdefault(r.way_id, set()).add(r.pos)
    return got


def test_kernel_matches_frontier_and_mirror(spark):
    """The Arrow kernel (the query's execution path) is bit-equal to
    the declarative frontier twin and the textbook mirror."""
    import random

    rng = random.Random(424242)
    ways = {
        w: [
            (rng.randint(-340_000_000, 340_000_000),
             rng.randint(-140_000_000, 140_000_000))
            for _ in range(rng.randint(2, 35))
        ]
        for w in range(25)
    }
    for eps in (1_000, 60_000_000):
        kern = _spark_dp_kernel(spark, ways, eps)
        front = _spark_dp(spark, ways, eps)
        for wid, pts in ways.items():
            want = _mirror(pts, eps)
            assert kern[wid] == want, (wid, eps)
            assert front[wid] == want, (wid, eps)


def test_monotone_chain_worst_case_drains(spark):
    """A strictly monotone-distance chain forces the deepest recursion
    (one split per level on one side) — the frontier must still drain
    inside max_iter and agree with the mirror."""
    pts = [(i * 10, (2 ** min(i, 40)) % 97_000_000) for i in range(50)]
    got = _spark_dp(spark, {0: pts}, 5)
    assert got[0] == _mirror(pts, 5)
