"""Convex hull (geo/hull.py) — exact-integer monotone chain.

Property checks pit the chain against a brute-force O(n^3) edge
predicate (the same first-principles derivation the SQL oracle uses),
plus the hull-of-hulls merge law that makes the reduction scale.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from osm_spark.geo import hull as H


def _brute_hull_vertices(pts: list[tuple[int, int]]) -> set[tuple[int, int]]:
    """Hull vertices from first principles: p is a vertex iff some
    directed edge (p, q) has every other point left-or-on-segment."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return set(pts)
    verts = set()
    for a in pts:
        for b in pts:
            if a == b:
                continue
            ok = True
            for c in pts:
                if c in (a, b):
                    continue
                cr = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (
                    c[0] - a[0]
                )
                if cr < 0:
                    ok = False
                    break
                if cr == 0 and not (
                    min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
                    and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
                ):
                    ok = False
                    break
            if ok:
                verts.add(a)
                verts.add(b)
    return verts


def test_square_with_interior_and_edge_points():
    xs = [0, 10, 10, 0, 5, 5, 0]  # last three: interior, on-edge, dup
    ys = [0, 0, 10, 10, 5, 0, 0]
    h = H.convex_hull(xs, ys)
    assert set(h) == {(0, 0), (10, 0), (10, 10), (0, 10)}
    assert H.area2(h) == 200
    # CCW: positive area, starts at lexicographic min
    assert h[0] == (0, 0)


def test_degenerate_collinear_and_tiny():
    assert H.convex_hull([3], [4]) == [(3, 4)]
    assert H.convex_hull([0, 5], [0, 5]) == [(0, 0), (5, 5)]
    # all collinear -> extreme segment only
    assert H.convex_hull([0, 2, 4, 6], [0, 1, 2, 3]) == [(0, 0), (6, 3)]
    assert H.area2(H.convex_hull([0, 2, 4], [0, 1, 2])) == 0


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_chain_matches_bruteforce(pts):
    h = H.convex_hull([p[0] for p in pts], [p[1] for p in pts])
    assert set(h) == _brute_hull_vertices(pts)
    assert H.area2(h) >= 0  # CCW orientation
    # every input point is inside or on the hull: left-or-on every edge
    if len(h) >= 3:
        for c in set(pts):
            for i in range(len(h)):
                a, b = h[i], h[(i + 1) % len(h)]
                cr = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (
                    c[0] - a[0]
                )
                assert cr >= 0, (c, a, b)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-10**8, max_value=10**8),
            st.integers(min_value=-10**8, max_value=10**8),
        ),
        min_size=3,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_merge_law_partition_invariance(pts, k):
    """hull(union) == merge(per-part hulls) for ANY partitioning —
    the law that lets the corpus-scale reduction run per-partition."""
    whole = H.convex_hull([p[0] for p in pts], [p[1] for p in pts])
    parts = [pts[i::k] for i in range(k) if pts[i::k]]
    merged = H.merge(
        *[H.convex_hull([p[0] for p in pp], [p[1] for p in pp]) for pp in parts]
    )
    assert set(merged) == set(whole)
    assert H.area2(merged) == H.area2(whole)


def test_kernel_stats_shape():
    import pandas as pd

    pdf = pd.DataFrame(
        {"way_id": [9] * 5, "x": [0, 10, 10, 0, 5], "y": [0, 0, 10, 10, 5]}
    )
    out = H.hull_stats_kernel(pdf)
    r = out.iloc[0]
    assert (r.way_id, r.n_hull, r.area2) == (9, 4, 200)
    assert (r.hx_sum, r.hy_sum) == (20, 20)
