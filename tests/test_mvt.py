"""Mapbox Vector Tile codec (geo/mvt.py) — wire-exact roundtrips.

Fixtures are hand-built feature sets; every assertion is on the
DECODED bytes (encode→decode→compare), so the encoder and decoder
cannot share a compensating bug in one direction only if both agree
with the hand-computed wire expectations below.
"""

from __future__ import annotations

import pytest

from osm_spark.geo import mvt


def test_point_roundtrip():
    buf = mvt.encode_tile(
        "pts",
        [{"id": 7, "xs": [100], "ys": [200], "type": mvt.POINT, "tags": {}}],
    )
    dec = mvt.decode_tile(buf)
    assert dec["name"] == "pts" and dec["version"] == 2
    assert dec["extent"] == 4096
    (f,) = dec["features"]
    assert f["id"] == 7 and f["type"] == mvt.POINT
    assert f["xs"] == [100] and f["ys"] == [200]
    # MoveTo count=1 -> command integer 9
    assert f["cmdsum"] == 9


def test_linestring_roundtrip_with_buffer_coords():
    # coords outside [0, extent) are legal (tile buffer) — negatives
    # exercise the zigzag path
    xs, ys = [-50, 0, 4200], [10, -3, 8000]
    buf = mvt.encode_tile(
        "ways",
        [{"id": 1, "xs": xs, "ys": ys, "type": mvt.LINESTRING, "tags": {}}],
    )
    (f,) = mvt.decode_tile(buf)["features"]
    assert f["xs"] == xs and f["ys"] == ys
    # MoveTo(1)=9 + LineTo(2)= 2|(2<<3)=18
    assert f["cmdsum"] == 9 + 18
    assert f["type"] == mvt.LINESTRING


def test_polygon_close_path():
    xs, ys = [0, 10, 10, 0], [0, 0, 10, 10]
    buf = mvt.encode_tile(
        "polys",
        [{"id": 3, "xs": xs, "ys": ys, "type": mvt.POLYGON, "tags": {}}],
    )
    (f,) = mvt.decode_tile(buf)["features"]
    assert f["xs"] == xs and f["ys"] == ys  # ring not repeated, per spec
    # MoveTo(1)=9 + LineTo(3)=2|(3<<3)=26 + ClosePath(1)=7|(1<<3)=15
    assert f["cmdsum"] == 9 + 26 + 15
    assert f["type"] == mvt.POLYGON


def test_key_value_tables_deduplicate():
    feats = [
        {"id": i, "xs": [i], "ys": [0], "type": mvt.POINT,
         "tags": {"cls": i % 2, "rank": 5}}
        for i in range(4)
    ]
    buf = mvt.encode_tile("l", feats)
    dec = mvt.decode_tile(buf)
    # keys table: cls, rank; values table: 0, 5, 1 (first-seen order)
    assert dec["n_values"] == 3
    for i, f in enumerate(dec["features"]):
        assert f["tags"] == {"cls": i % 2, "rank": 5}


def test_geometry_codec_exhaustive_deltas():
    # alternating large +/- deltas stress multi-byte varints both ways
    xs = [0, 100000, -100000, 4096, -1]
    ys = [5, -99999, 99999, 0, 4096]
    g = mvt.encode_geometry(xs, ys, mvt.LINESTRING)
    gtype, dx, dy, _ = mvt.decode_geometry(g)
    assert (gtype, dx, dy) == (mvt.LINESTRING, xs, ys)


def test_decode_rejects_multi_layer_and_unknown_cmd():
    one = mvt.encode_tile("a", [])
    with pytest.raises(ValueError):
        mvt.decode_tile(one + one)
    with pytest.raises(ValueError):
        # command 3 is not MoveTo/LineTo/ClosePath
        mvt.decode_geometry([(3 & 0x7) | (1 << 3), 0, 0])


def test_tile_stats_kernel_matches_hand_computation():
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "way_id": [2, 1],
            "tile_x": [3, 3],
            "tile_y": [1, 1],
            "xs": [[5], [0, 10]],
            "ys": [[6], [0, 4]],
            "tagval": [2, 1],
        }
    )
    out = mvt.tile_stats_kernel(pdf)
    row = out.iloc[0]
    assert (row.tile_x, row.tile_y) == (3, 1)
    assert row.n_features == 2
    assert row.n_values == 2  # values {1, 2}
    # way 1 (linestring, 2 pts): 9 + (2|(1<<3))=10; way 2 (point): 9
    assert row.cmdsum == 19 + 9
    assert row.xsum == (0 + 10) + 5
    assert row.ysum == (0 + 4) + 6
    assert row.tagsum == 3
    assert row.byte_len > 0
