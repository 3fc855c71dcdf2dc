"""Segment join / ring / multipolygon assembly — cases ported from
reference internal/mputil/join_test.go and osmgeojson/build_polygon.go
semantics. Pure-Python kernels (no Spark needed here)."""

from osm_spark.geom import assembly as A


def seg(*pts, orientation=0):
    return A.Segment([tuple(p) for p in pts], orientation=orientation)


def lines(groups):
    return [[s.line for s in ms] for ms in groups]


def test_join_single_line():
    out = A.join_segments([seg((0, 0), (1, 1))])
    assert lines(out) == [[[(0, 0), (1, 1)]]]


def test_join_two_loops():
    out = A.join_segments(
        [
            seg((0, 0), (1, 1), (1, 2), (0, 0)),
            seg((1, 0), (2, 1), (2, 2), (1, 0)),
        ]
    )
    # join.go starts from the END of the list
    assert lines(out) == [
        [[(1, 0), (2, 1), (2, 2), (1, 0)]],
        [[(0, 0), (1, 1), (1, 2), (0, 0)]],
    ]


def test_join_two_lines():
    out = A.join_segments([seg((0, 0), (1, 1)), seg((1, 1), (2, 2))])
    assert lines(out) == [[[(0, 0)], [(1, 1), (2, 2)]]]


def test_join_two_lines_reverse_order():
    out = A.join_segments([seg((1, 1), (2, 2)), seg((0, 0), (1, 1))])
    assert lines(out) == [[[(0, 0), (1, 1)], [(2, 2)]]]


def test_join_two_lines_with_reverse():
    out = A.join_segments([seg((2, 2), (1, 1)), seg((2, 2), (3, 3))])
    assert lines(out) == [[[(1, 1)], [(2, 2), (3, 3)]]]
    assert out[0][0].reversed is True


def test_join_reverse_second():
    out = A.join_segments([seg((0, 0), (1, 1)), seg((2, 2), (1, 1))])
    assert lines(out) == [[[(2, 2), (1, 1)], [(0, 0)]]]
    assert out[0][1].reversed is True


def test_join_single_point_segments_compacted():
    """join.go:82-94: <=1-point segments dropped before joining."""
    out = A.join_segments([seg((5, 5)), seg((0, 0), (1, 1)), seg()])
    assert lines(out) == [[[(0, 0), (1, 1)]]]


def test_join_dangling_line():
    out = A.join_segments([seg((0, 0), (1, 1)), seg((5, 5), (6, 6))])
    assert len(out) == 2


def test_ring_orientation_and_reversal():
    ccw = [seg((0, 0), (1, 0), (1, 1), (0, 1), (0, 0))]
    assert A.multi_segment_orientation(ccw) == A.CCW
    r = A.multi_segment_ring(ccw, A.CW)
    assert r[0] == (0, 0) and r[1] == (0, 1)  # got reversed
    r2 = A.multi_segment_ring(ccw, A.CCW)
    assert r2 == ccw[0].line


def test_ring_uses_member_orientation():
    """mputil.go:79-96: member orientation annotation short-circuits the
    computed orientation."""
    s = seg((0, 0), (1, 0), (1, 1), (0, 1), (0, 0), orientation=A.CCW)
    # annotated CCW, not reversed, want CCW -> (o==want)==reversed is
    # False -> no flip
    assert A.multi_segment_ring([s], A.CCW) == s.line
    # want CW: (o==want)=False == reversed False -> reversed_flag True -> flip
    assert A.multi_segment_ring([s], A.CW) == s.line[::-1]


def test_build_multipolygon_old_style():
    """Single outer way, tags on the way (build_polygon.go:99-124)."""
    members = [
        {"type": "way", "ref": 1, "role": "outer", "orientation": 0},
        {"type": "way", "ref": 2, "role": "inner", "orientation": 0},
    ]
    way_lines = {
        1: [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
        2: [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)],
    }
    out = A.build_multipolygon(members, way_lines)
    assert out["old_style"] is True
    assert not out["tainted"]
    assert len(out["polygons"]) == 1
    poly = out["polygons"][0]
    assert len(poly) == 2
    assert A._ring_orientation_pts(poly[0]) == A.CCW
    assert A._ring_orientation_pts(poly[1]) == A.CW


def test_build_multipolygon_multi_outer_pip_assignment():
    """Two outers; inner assigned to its containing outer via ray-cast."""
    members = [
        {"type": "way", "ref": 1, "role": "outer"},
        {"type": "way", "ref": 2, "role": "outer"},
        {"type": "way", "ref": 3, "role": "inner"},
    ]
    way_lines = {
        1: [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
        2: [(10, 10), (14, 10), (14, 14), (10, 14), (10, 10)],
        3: [(11, 11), (12, 11), (12, 12), (11, 12), (11, 11)],
    }
    out = A.build_multipolygon(members, way_lines)
    assert out["old_style"] is False
    polys = out["polygons"]
    assert len(polys) == 2
    with_hole = [p for p in polys if len(p) == 2]
    assert len(with_hole) == 1
    assert with_hole[0][0][0][0] >= 10  # the second outer holds the hole


def test_build_multipolygon_unclosed_outer_skipped():
    members = [
        {"type": "way", "ref": 1, "role": "outer"},
        {"type": "way", "ref": 2, "role": "outer"},
    ]
    way_lines = {
        1: [(0, 0), (4, 0), (4, 4)],  # unclosed, dangling
        2: [(10, 10), (14, 10), (14, 14), (10, 14), (10, 10)],
    }
    out = A.build_multipolygon(members, way_lines)
    assert len(out["polygons"]) == 1


def test_build_multipolygon_missing_way_tainted():
    members = [
        {"type": "way", "ref": 1, "role": "outer"},
        {"type": "way", "ref": 99, "role": "inner"},
    ]
    way_lines = {1: [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]}
    out = A.build_multipolygon(members, way_lines)
    assert out["tainted"] is True


def test_route_linestrings_with_reversal():
    members = [
        {"type": "way", "ref": 1},
        {"type": "way", "ref": 2},  # needs reversal to connect
    ]
    way_lines = {1: [(0, 0), (1, 1)], 2: [(2, 2), (1, 1)]}
    out = A.build_route_linestrings(members, way_lines)
    assert out["lines"] == [[(2, 2), (1, 1), (0, 0)]]


# ------------------------------------------------- distributed assembly
SQUARE = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
HOLE = [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)]
FAR = [(10.0, 10.0), (14.0, 10.0), (14.0, 14.0), (10.0, 14.0), (10.0, 10.0)]

# ref -> line; refs 30-33 split SQUARE into four pieces, 32 reversed
WAYS = {
    10: SQUARE, 11: HOLE, 12: FAR,
    20: [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0)],  # unclosed on its own
    30: SQUARE[0:2], 31: SQUARE[1:3], 32: SQUARE[2:4][::-1], 33: SQUARE[3:5],
    40: [],
}

# rel_id -> [(type, ref, role, orientation)], in member (midx) order
RELATIONS = {
    # split outer listed shuffled, one piece annotated, plus a hole
    1: [("way", 32, "outer", None), ("way", 30, "outer", 1),
        ("way", 33, "outer", 0), ("way", 11, "inner", None),
        ("way", 31, "outer", 0)],
    # a missing way: tainted
    2: [("way", 10, "outer", 0), ("way", 12, "outer", 0),
        ("way", 99, "inner", 0)],
    # old style: one outer way carries the polygon
    3: [("way", 10, "outer", 0), ("way", 11, "inner", 0),
        ("node", 7, "label", 0)],
    # unclosed outer only: no rows
    4: [("way", 20, "outer", 0)],
    # repeated member ref and an empty way
    5: [("way", 12, "outer", 0), ("way", 10, "outer", 0),
        ("way", 12, "outer", 0), ("way", 40, "outer", 0),
        ("way", 11, "inner", 0)],
    # two outers and a hole, then members past the cap below: tainted
    6: [("way", 12, "outer", 0), ("way", 10, "outer", 0),
        ("way", 11, "inner", 0), ("way", 40, "outer", 0),
        ("way", 12, "inner", 0), ("way", 20, "outer", 0)],
}
MAX_MEMBERS = 5
assert [k for k, m in RELATIONS.items() if len(m) > MAX_MEMBERS] == [6]


def _spark_inputs(spark, relations):
    rels = spark.createDataFrame(
        [
            (rid, [{"type": t, "ref": r, "role": ro, "orientation": o}
                   for t, r, ro, o in ms])
            for rid, ms in relations.items()
        ],
        "rel_id long, members array<struct<type:string, ref:long, "
        "role:string, orientation:int>>",
    )
    ways = spark.createDataFrame(
        [(ref, [{"lon": x, "lat": y} for x, y in line]) for ref, line in WAYS.items()],
        "ref long, line array<struct<lon:double, lat:double>>",
    )
    return rels, ways


def _members(ms, max_members):
    return [
        {"type": t, "ref": r, "role": ro, "orientation": o}
        for t, r, ro, o in ms[:max_members]
    ]


def _lines(rows, col):
    return {
        k: [(p.lon, p.lat) for p in getattr(r, col)]
        for r in rows
        for k in [tuple(getattr(r, c) for c in r.__fields__ if c != col)]
    }


def test_distributed_multipolygons_match_kernel(spark):
    """assemble_multipolygons_df returns, relation by relation, exactly
    what build_multipolygon returns for the relation's members in
    member order (capped at max_members, which taints), with the
    documented schema."""
    from pyspark.sql.types import _parse_datatype_string

    rels, ways = _spark_inputs(spark, RELATIONS)
    df = A.assemble_multipolygons_df(rels, ways, max_members=MAX_MEMBERS)
    assert df.schema == _parse_datatype_string(
        "rel_id long, poly_idx int, ring_idx int, "
        "ring array<struct<lon:double, lat:double>>, "
        "tainted boolean, old_style boolean"
    )
    assert all(f.nullable for f in df.schema.fields)
    want = {}
    for rid, ms in RELATIONS.items():
        way_lines = {r: WAYS[r] for _, r, _, _ in ms if r in WAYS}
        res = A.build_multipolygon(_members(ms, MAX_MEMBERS), way_lines)
        if res is None:
            continue
        for pi, poly in enumerate(res["polygons"]):
            for ri, ring in enumerate(poly):
                flags = (res["tainted"] or len(ms) > MAX_MEMBERS, res["old_style"])
                want[(rid, pi, ri, *flags)] = ring
    got = _lines(df.collect(), "ring")
    assert got == want
    # the cases each show: tainted missing way and cap, old style,
    # and an unclosed outer that yields nothing
    assert {k[0] for k in got} == {1, 2, 3, 5, 6}
    assert {k[0] for k in got if k[3]} == {2, 6}
    assert {k[0] for k in got if k[4]} == {3}


def test_distributed_routes_match_kernel(spark):
    rels, ways = _spark_inputs(spark, RELATIONS)
    df = A.assemble_routes_df(rels, ways, max_members=MAX_MEMBERS)
    assert [f.name for f in df.schema.fields] == [
        "rel_id", "line_idx", "line", "tainted"
    ]
    want = {}
    for rid, ms in RELATIONS.items():
        way_lines = {r: WAYS[r] for _, r, _, _ in ms if r in WAYS}
        res = A.build_route_linestrings(_members(ms, MAX_MEMBERS), way_lines)
        for li, line in enumerate(res["lines"]):
            want[(rid, li, res["tainted"] or len(ms) > MAX_MEMBERS)] = line
    assert _lines(df.collect(), "line") == want
