"""Supercover line rasterization: geometry fixtures + Python mirror."""

from __future__ import annotations

import math

from osm_spark.geo import raster_line as rl

Z, QB = 8, 16
Q = 1 << QB


def _fx(lon: float) -> float:
    return (lon + 180.0) / 360.0 * 256.0


def _fy(lat: float) -> float:
    return (1.0 - math.log(math.tan(lat * math.pi / 360.0 + math.pi / 4.0))
            / math.pi) / 2.0 * 256.0


def _quant(f: float) -> int:
    return math.floor(f * float(Q))


def _mirror(lon1, lat1, lon2, lat2):
    """Python reimplementation of the fixed-point supercover."""
    x1, y1 = _quant(_fx(lon1)), _quant(_fy(lat1))
    x2, y2 = _quant(_fx(lon2)), _quant(_fy(lat2))
    cells = {(x1 >> QB, y1 >> QB), (x2 >> QB, y2 >> QB)}

    def fld(a, b):
        return a // b  # python floors

    def axis(am, ao, bm, bo, flip):
        lo_m, lo_o, hi_m, hi_o = (
            (am, ao, bm, bo) if am <= bm else (bm, bo, am, ao)
        )
        for g in range((lo_m >> QB) + 1, (hi_m >> QB) + 1):
            if hi_m <= lo_m:
                break
            o = lo_o + fld((g * Q - lo_m) * (hi_o - lo_o), hi_m - lo_m)
            oc = o >> QB
            for m in (g - 1, g):
                cells.add((oc, m) if flip else (m, oc))

    axis(x1, y1, x2, y2, False)
    axis(y1, x1, y2, x2, True)
    return cells


def _run(spark, segs):
    df = spark.createDataFrame(
        segs, "seg_id long, lon1 double, lat1 double, lon2 double, lat2 double"
    )
    out = rl.supercover(df, z=Z, qbits=QB).collect()
    res: dict[int, set] = {}
    for r in out:
        res.setdefault(r.seg_id, set()).add((r.tile_x, r.tile_y))
    return res


def _lon_at(fx: float) -> float:
    return fx / 256.0 * 360.0 - 180.0


def test_horizontal_segment_covers_every_x_cell(spark):
    lat = 10.3
    segs = [(1, _lon_at(10.3), lat, _lon_at(13.7), lat)]
    got = _run(spark, segs)[1]
    ys = {y for _, y in got}
    assert len(ys) == 1
    assert {x for x, _ in got} == {10, 11, 12, 13}


def test_point_segment_single_cell(spark):
    segs = [(1, _lon_at(42.5), 37.1, _lon_at(42.5), 37.1)]
    got = _run(spark, segs)[1]
    assert len(got) == 1


def test_matches_python_mirror_on_diagonals(spark):
    segs = [
        (1, _lon_at(10.2), 10.3, _lon_at(14.9), 24.7),
        (2, _lon_at(200.1 / 16), -33.2, _lon_at(180.5 / 16), -41.8),
        (3, _lon_at(100.5), 45.7, _lon_at(100.9), 46.1),
        (4, _lon_at(8.01), 50.0, _lon_at(8.99), 50.2),
    ]
    got = _run(spark, segs)
    for sid, lon1, lat1, lon2, lat2 in segs:
        assert got[sid] == _mirror(lon1, lat1, lon2, lat2), sid


def test_supercover_is_connected_enough(spark):
    # a long diagonal: cell count must be >= max(dx, dy) + 1
    segs = [(1, _lon_at(5.1), 0.7, _lon_at(45.6), 52.3)]
    got = _run(spark, segs)[1]
    xs = [x for x, _ in got]
    ys = [y for _, y in got]
    assert len(got) >= max(max(xs) - min(xs), max(ys) - min(ys)) + 1


def test_property_random_segments_match_mirror(spark):
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    coord = st.tuples(
        st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
        st.floats(min_value=-80.0, max_value=80.0, allow_nan=False),
    )

    segs_acc = []

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(a=coord, b=coord)
    def collect(a, b):
        segs_acc.append((a, b))

    collect()
    segs = [
        (i, a[0], a[1], b[0], b[1])
        for i, (a, b) in enumerate(segs_acc)
    ]
    got = _run(spark, segs)
    for sid, lon1, lat1, lon2, lat2 in segs:
        expect = _mirror(lon1, lat1, lon2, lat2)
        assert got[sid] == expect, (sid, lon1, lat1, lon2, lat2)
        # both endpoint cells always present; connectivity bound holds
        xs = [x for x, _ in got[sid]]
        ys = [y for _, y in got[sid]]
        assert len(got[sid]) >= max(max(xs) - min(xs), max(ys) - min(ys)) + 1
