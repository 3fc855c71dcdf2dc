"""The ray-cast refine behind both PIP joins, against a brute-force
per-row reference, and the cell join's salt invariance."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from osm_spark.geo import wkb as W
from osm_spark.geo.pip import pip_join_cells, refine_batch, ring_contains

# closed square, unclosed triangle (last vertex != first), concave "L"
RINGS = {
    1: ([0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0]),
    2: ([0.0, 6.0, 0.0], [0.0, 0.0, 6.0]),
    3: ([2.0, 8.0, 8.0, 4.0, 4.0, 2.0], [2.0, 2.0, 4.0, 4.0, 8.0, 8.0]),
}
SHELL = ([0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0])
HOLE = ([3.0, 7.0, 7.0, 3.0, 3.0], [3.0, 3.0, 7.0, 7.0, 3.0])


def _points():
    """Random points plus every ring vertex and points on horizontal
    edges (y equal to an edge's y) — the ray-cast's tie cases."""
    rng = np.random.default_rng(5)
    pts = [(float(x), float(y)) for x, y in rng.uniform(-1.0, 11.0, (60, 2))]
    for xs, ys in list(RINGS.values()) + [HOLE]:
        pts += list(zip(xs, ys))
    pts += [(5.0, 0.0), (5.0, 10.0), (3.0, 2.0), (5.0, 3.0), (5.0, 7.0)]
    pts += [(5.0, 5.0), (1.0, 1.0)]  # in the hole; in the shell
    return pts


def _candidates(poly_ids):
    """One candidate row per (point, polygon), poly_ids interleaved so a
    batch holds several runs of each, plus one NULL-poly_id row."""
    pts = _points()
    rows = [
        (i, x, y, pid)
        for i, (x, y) in enumerate(pts)
        for pid in poly_ids
    ]
    rng = np.random.default_rng(9)
    rows = [rows[k] for k in rng.permutation(len(rows))]
    rows.insert(7, (999, 5.0, 5.0, None))
    return rows


def _check(batch, want_keep):
    got = refine_batch(batch, "lon", "lat")
    payload = {"xs", "ys", "xmin", "xmax", "ymin", "ymax", "wkb"}
    assert got.schema.names == [n for n in batch.schema.names if n not in payload]
    want = batch.filter(pa.array(want_keep)).select(got.schema.names)
    assert got.to_pydict() == want.to_pydict()  # same rows, same order
    return got


def test_refine_batch_matches_bruteforce_rings():
    rows = _candidates([1, 2, 3])
    ring = [RINGS.get(r[3], ([], [])) for r in rows]
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "lon": pa.array([r[1] for r in rows], pa.float64()),
        "lat": pa.array([r[2] for r in rows], pa.float64()),
        "poly_id": pa.array([r[3] for r in rows], pa.int64()),
        "xs": pa.array([g[0] for g in ring], pa.list_(pa.float64())),
        "ys": pa.array([g[1] for g in ring], pa.list_(pa.float64())),
        "xmin": pa.array([0.0] * len(rows)),
        "xmax": pa.array([1.0] * len(rows)),
        "ymin": pa.array([0.0] * len(rows)),
        "ymax": pa.array([1.0] * len(rows)),
    })
    want = np.array([
        r[3] is not None and bool(ring_contains(
            np.array(RINGS[r[3]][0]), np.array(RINGS[r[3]][1]),
            np.array([r[1]]), np.array([r[2]]),
        )[0])
        for r in rows
    ])
    got = _check(batch, want)
    assert 0 < got.num_rows < len(rows)
    assert 999 not in got.column("doc_id").to_pylist()
    # a sliced batch reads its own rows of the list arrays
    _check(batch.slice(50, 100), want[50:150])
    # an empty batch keeps the output columns
    assert _check(batch.slice(0, 0), want[:0]).num_rows == 0


def test_refine_batch_wkb_holes_subtract():
    polys = {7: W.encode_polygon([SHELL, HOLE]), 8: W.encode_polygon([RINGS[2]])}
    rows = _candidates([7, 8])
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "lon": pa.array([r[1] for r in rows], pa.float64()),
        "lat": pa.array([r[2] for r in rows], pa.float64()),
        "poly_id": pa.array([r[3] for r in rows], pa.int64()),
        "wkb": pa.array([polys.get(r[3], polys[7]) for r in rows], pa.binary()),
    })

    def inside(pid, x, y):
        hit = False
        for xs, ys in W.decode(polys[pid])[1]:
            hit ^= bool(ring_contains(xs, ys, np.array([x]), np.array([y]))[0])
        return hit

    want = np.array([r[3] is not None and inside(r[3], r[1], r[2]) for r in rows])
    got = _check(batch, want)
    kept = set(zip(got.column("lon").to_pylist(), got.column("lat").to_pylist(),
                   got.column("poly_id").to_pylist()))
    assert (5.0, 5.0, 7) not in kept  # in the hole
    assert (1.0, 1.0, 7) in kept and (1.0, 1.0, 8) in kept


def test_pip_join_cells_salt_invariant(spark):
    polys = spark.createDataFrame(
        [
            (pid, xs, ys, min(xs), max(xs), min(ys), max(ys))
            for pid, (xs, ys) in RINGS.items()
        ],
        "poly_id long, xs array<double>, ys array<double>,"
        " xmin double, xmax double, ymin double, ymax double",
    )
    pts = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(_points())],
        "doc_id long, lon double, lat double",
    )
    one = pip_join_cells(pts, polys, zoom=6, salt=1)
    four = pip_join_cells(pts, polys, zoom=6, salt=4)
    assert one.schema == four.schema
    assert one.schema.names == ["doc_id", "lon", "lat", "poly_id"]
    rows = sorted(map(tuple, one.collect()))
    assert rows == sorted(map(tuple, four.collect()))
    assert len(rows) > 0
